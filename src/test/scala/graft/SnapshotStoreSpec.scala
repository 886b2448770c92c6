package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{ChangelogOps, SnapshotStore}

/** Stale-snapshot-isolation semantics: versioned publish, pinned reads,
  * pointer-flip commit, retention pruning. */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("streaming MV publishes immutable epochs; pinned reads time-travel") {
    val input = MemoryStream[(Long, Long, String, Double)]
    val source = input.toDF().toDF("user_id", "version", "op", "value")
    val base = Files.createTempDirectory("snap").toString + "/t"

    val q = ChangelogOps.latestByKey(source, Seq("user_id"), "version")
      .withColumn("is_delete", $"op" === "del")
      .writeStream.outputMode("update")
      .option("checkpointLocation", base + ".ckpt")
      .foreachBatch(SnapshotStore.upsertSink(base, Seq("user_id"), "version", Some("is_delete")))
      .start()
    try {
      input.addData((1L, 1L, "ins", 10.0), (2L, 1L, "ins", 20.0))
      q.processAllAvailable()
      val v1 = SnapshotStore.latestVersion(spark, base).get

      input.addData((1L, 2L, "upd", 11.0), (2L, 2L, "del", 0.0))
      q.processAllAvailable()
      val v2 = SnapshotStore.latestVersion(spark, base).get
      assert(v2 > v1)

      def state(v: Long) = SnapshotStore.readSnapshot(spark, base, Some(v))
        .select("user_id", "value").as[(Long, Double)].collect().toSet
      // pinned read of the OLD epoch still sees the pre-update world
      assert(state(v1) === Set((1L, 10.0), (2L, 20.0)))
      assert(state(v2) === Set((1L, 11.0)))
      // latest-pointer read = newest epoch
      assert(SnapshotStore.readSnapshot(spark, base)
        .select("user_id").as[Long].collect().toSeq === Seq(1L))
    } finally q.stop()
  }

  test("retention prunes old epochs but keeps the window") {
    val base = Files.createTempDirectory("snapr").toString + "/t"
    (0L to 5L).foreach { v =>
      SnapshotStore.publish(spark, base, v, keep = 2)(() => Seq((v, "x")).toDF("id", "s"))
    }
    assert(SnapshotStore.versions(spark, base).sorted === Seq(4L, 5L))
    assert(SnapshotStore.latestVersion(spark, base) === Some(5L))
  }

  test("reading an empty store fails loudly, not with a partial view") {
    val base = Files.createTempDirectory("snape").toString + "/t"
    intercept[IllegalStateException](SnapshotStore.readSnapshot(spark, base))
  }

  test("empty-store reads skip the mid-flip retry: no sleeps on fresh stores") {
    // the pointer-absent retry (2 x 25 ms) must only arm when committed _v=
    // epochs exist without a pointer; a provably-empty store answers
    // immediately, or every first publish and fresh-store read pays ~50ms
    val base = Files.createTempDirectory("snapnr").toString + "/t"
    SnapshotStore.latestVersion(spark, base) // warm fs/classloading
    val t0 = System.nanoTime()
    (1 to 5).foreach(_ => assert(SnapshotStore.latestVersion(spark, base).isEmpty))
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    // 5 armed retries would sleep >= 250 ms; generous slack for a loaded box
    assert(elapsedMs < 100L, s"empty-store latestVersion took ${elapsedMs}ms")
    // and the retry still arms on the LEGACY mid-flip signature (a
    // committed epoch with no readable pointer of either format — only a
    // pre-versioning store's delete-then-rename window can produce it)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotStore.publish(spark, base, 1L)(() => Seq((1L, "a")).toDF("id", "s"))
    fs.delete(new org.apache.hadoop.fs.Path(base, "_LATEST.v1"), false)
    val t1 = System.nanoTime()
    assert(SnapshotStore.latestVersion(spark, base).isEmpty)
    assert((System.nanoTime() - t1) / 1000000L >= 50L,
      "mid-flip signature must still retry before concluding absence")
  }

  test("the pointer survives crashes and legacy stores; stale leftovers never regress it") {
    val base = Files.createTempDirectory("snapvp").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(base, n)
    // the flip IS one atomic create of a name-versioned pointer
    SnapshotStore.publish(spark, base, 1L)(() => Seq((1L, "a")).toDF("id", "s"))
    assert(fs.exists(p("_LATEST.v1")))
    // a legacy content-bearing pointer (pre-versioning store) still reads
    fs.delete(p("_LATEST.v1"), false)
    val out = fs.create(p("_LATEST"), true)
    try out.writeBytes("1") finally out.close()
    assert(SnapshotStore.latestVersion(spark, base) === Some(1L))
    // the next publish migrates: new versioned pointer lands, legacy goes
    SnapshotStore.publish(spark, base, 2L)(() => Seq((2L, "b")).toDF("id", "s"))
    assert(fs.exists(p("_LATEST.v2")) && !fs.exists(p("_LATEST")))
    assert(SnapshotStore.latestVersion(spark, base) === Some(2L))
    // crash leftovers (a superseded pointer that escaped cleanup) can
    // only be OLDER — max wins, the store never reads backward
    fs.create(p("_LATEST.v1"), true).close()
    assert(SnapshotStore.latestVersion(spark, base) === Some(2L))
    assert(SnapshotStore.readSnapshot(spark, base)
      .select("id").as[Long].collect().toSeq === Seq(2L))
  }

  test("a held lock makes a second writer fail loudly, store untouched") {
    val base = Files.createTempDirectory("snapl").toString + "/t"
    SnapshotStore.publish(spark, base, 1L)(() => Seq((1L, "a")).toDF("id", "s"))
    // simulate writer A mid-flip: its lock exists
    val lock = new org.apache.hadoop.fs.Path(base, "_LATEST.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val held = fs.create(lock, false)
    try {
      intercept[SnapshotStore.ConcurrentPublishException] {
        SnapshotStore.publish(spark, base, 2L)(() => Seq((2L, "b")).toDF("id", "s"))
      }
    } finally { held.close(); fs.delete(lock, false) }
    // loser changed nothing the pointer can see
    assert(SnapshotStore.latestVersion(spark, base) === Some(1L))
    assert(SnapshotStore.readSnapshot(spark, base)
      .select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("a crashed writer's expired lock is taken over; a live lock is not") {
    val base = Files.createTempDirectory("snaptl").toString + "/t"
    SnapshotStore.publish(spark, base, 1L)(() => Seq((1L, "a")).toDF("id", "s"))
    val lock = new org.apache.hadoop.fs.Path(base, "_LATEST.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Writer A crashed between lock-create and its finally-delete: the lock
    // file survives with no process behind it. Age it past the lease.
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis() - 60_000L, -1L)
    // Live-writer conflict first: within the lease the lock still wins.
    intercept[SnapshotStore.ConcurrentPublishException] {
      SnapshotStore.publish(spark, base, 2L,
        lockLeaseMs = 600_000L)(() => Seq((2L, "b")).toDF("id", "s"))
    }
    assert(SnapshotStore.latestVersion(spark, base) === Some(1L))
    // Past the lease, writer B breaks the corpse and publishes.
    SnapshotStore.publish(spark, base, 2L,
      lockLeaseMs = 30_000L)(() => Seq((2L, "b")).toDF("id", "s"))
    assert(SnapshotStore.latestVersion(spark, base) === Some(2L))
    // B released its own lock on the way out — the store is unlocked.
    assert(!fs.exists(lock))
  }

  test("a delayed stale writer cannot regress or clobber; replay is a no-op") {
    val base = Files.createTempDirectory("snaps").toString + "/t"
    SnapshotStore.publish(spark, base, 3L)(() => Seq((1L, "v3")).toDF("id", "s"))
    SnapshotStore.publish(spark, base, 5L)(() => Seq((1L, "v5")).toDF("id", "s"))
    intercept[SnapshotStore.ConcurrentPublishException] {
      SnapshotStore.publish(spark, base, 3L)(() => Seq((1L, "v3x")).toDF("id", "s"))
    }
    assert(SnapshotStore.latestVersion(spark, base) === Some(5L))
    // the retained time-travel epoch was not clobbered by the stale writer
    assert(SnapshotStore.readSnapshot(spark, base, Some(3L))
      .select("s").as[String].head() === "v3")
    // crash-replay of the SAME committed epoch: committed epochs are
    // immutable — pinned readers keep their files; the replay is a no-op
    SnapshotStore.publish(spark, base, 5L)(() => Seq((1L, "v5r")).toDF("id", "s"))
    assert(SnapshotStore.readSnapshot(spark, base)
      .select("s").as[String].head() === "v5")
  }

  test("publishAll prepares every store before any pointer flips (2PC shape)") {
    val baseA = Files.createTempDirectory("snap2pcA").toString + "/t"
    val baseB = Files.createTempDirectory("snap2pcB").toString + "/t"
    SnapshotStore.publishAll(spark, Seq(
      baseA -> (() => Seq((1L, "a1")).toDF("id", "s")),
      baseB -> (() => Seq((1L, "b1")).toDF("id", "s"))), 1L)
    assert(SnapshotStore.latestVersion(spark, baseA) === Some(1L))
    assert(SnapshotStore.latestVersion(spark, baseB) === Some(1L))

    // epoch 2: store A prepares fine, store B's frame fails at write time —
    // the failed prepare must prevent EVERY pointer flip, including A's
    val boom = udf((i: Long) => {
      throw new RuntimeException("boom"); i: Long
    })
    intercept[Exception] {
      SnapshotStore.publishAll(spark, Seq(
        baseA -> (() => Seq((2L, "a2")).toDF("id", "s")),
        baseB -> (() => spark.range(1).select(boom($"id").as("id")))), 2L)
    }
    assert(SnapshotStore.latestVersion(spark, baseA) === Some(1L),
      "no store may commit an epoch any sibling failed to prepare")
    assert(SnapshotStore.latestVersion(spark, baseB) === Some(1L))

    // clean retry of the same epoch succeeds everywhere
    SnapshotStore.publishAll(spark, Seq(
      baseA -> (() => Seq((2L, "a2")).toDF("id", "s")),
      baseB -> (() => Seq((2L, "b2")).toDF("id", "s"))), 2L)
    assert(SnapshotStore.readSnapshot(spark, baseA)
      .select("s").as[String].head() === "a2")
    assert(SnapshotStore.readSnapshot(spark, baseB)
      .select("s").as[String].head() === "b2")
  }

  test("lease fence: a lock stolen during phase 1 aborts before the flip") {
    val base = Files.createTempDirectory("snapf").toString + "/t"
    SnapshotStore.publish(spark, base, 1L)(() => Seq((1L, "a")).toDF("id", "s"))
    val lockFile = base + "/_LATEST.lock"
    // Phase-1 frame whose evaluation replaces the lock with a thief's —
    // simulating a takeover while this writer's whole process was stalled.
    // local[*] executors share the JVM + filesystem, so this runs mid-write.
    val steal = udf { (i: Long) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(lockFile),
        "thief-token".getBytes)
      i
    }
    intercept[SnapshotStore.ConcurrentPublishException] {
      SnapshotStore.publish(spark, base, 2L)(() =>
        spark.range(2).select(steal($"id").as("id")))
    }
    // the fence fired BEFORE either commit point: pointer untouched AND the
    // staged epoch was never renamed into a readable _v= directory
    assert(SnapshotStore.latestVersion(spark, base) === Some(1L))
    assert(!new java.io.File(base, "_v=2").exists())
    // and close() must not delete a lock that is no longer ours
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(lockFile))) === "thief-token")
    java.nio.file.Files.delete(java.nio.file.Paths.get(lockFile))
  }

  test("a successful publish sweeps crashed attempts' staging debris") {
    val base = Files.createTempDirectory("snapg").toString + "/t"
    SnapshotStore.publish(spark, base, 1L)(() => Seq((1L, "a")).toDF("id", "s"))
    val debris = new java.io.File(base, "_staging_v=9-deadbeef")
    assert(debris.mkdirs())
    SnapshotStore.publish(spark, base, 2L)(() => Seq((2L, "b")).toDF("id", "s"))
    assert(!debris.exists(), "stale staging must be swept under the lease")
    assert(SnapshotStore.latestVersion(spark, base) === Some(2L))
  }

  test("heartbeat keeps a slow live writer's lock fresh against takeover") {
    val base = Files.createTempDirectory("snaph").toString + "/t"
    val slow = udf { (i: Long) => Thread.sleep(7000L); i }
    @volatile var slowFailed: Option[Throwable] = None
    val t = new Thread(null, () => {
      try SnapshotStore.publish(spark, base, 1L, lockLeaseMs = 4000L)(() =>
        spark.range(2).repartition(2).select(slow($"id").as("id")))
      catch { case e: Throwable => slowFailed = Some(e) }
    }, "slow-writer")
    t.start()
    Thread.sleep(5500L) // well past the nominal 4s lease
    // Without the heartbeat the lock would look expired (age ≈ 5.5s > 4s)
    // and this writer would take it over mid-phase-1; with it, liveness
    // stays within one beat period (~1s) — a 3s margin against CI stalls —
    // and the live lock wins the conflict.
    val ex = intercept[SnapshotStore.ConcurrentPublishException] {
      SnapshotStore.publish(spark, base, 2L,
        lockLeaseMs = 4000L)(() => Seq((9L, "x")).toDF("id", "s"))
    }
    assert(ex.getMessage.contains("another writer holds"))
    t.join()
    assert(slowFailed.isEmpty, s"slow writer failed: $slowFailed")
    assert(SnapshotStore.latestVersion(spark, base) === Some(1L))
  }

  test("two racing writers: one winner per flip, never a torn read") {
    val base = Files.createTempDirectory("snapc").toString + "/t"
    val outcomes = (10L to 11L).map { v =>
      val t = new Thread(null, () => {
        try SnapshotStore.publish(spark, base, v)(() => Seq((v, s"v$v")).toDF("id", "s"))
        catch { case _: SnapshotStore.ConcurrentPublishException => () }
      }, s"writer-$v")
      t.start(); t
    }
    outcomes.foreach(_.join())
    // whatever interleaving happened, the pointer names a fully-written epoch
    val v = SnapshotStore.latestVersion(spark, base).get
    assert(Set(10L, 11L).contains(v))
    assert(SnapshotStore.readSnapshot(spark, base)
      .select("id").as[Long].head() === v)
  }
}
