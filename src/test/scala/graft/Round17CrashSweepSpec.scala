package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.streaming.{BucketedTable, FileTso, SnapshotStore, TimestampOracle, UpsertSink}

/**
 * Crash-point ENUMERATION over the file protocols — the systematic form of
 * the targeted crash tests rounds 15/16 wrote by hand. [[InstrumentedFs]]
 * is armed to kill the "process" at the Nth mutating operation (the op and
 * everything after it throw — catch/finally cleanup fails too, like a real
 * halt); N sweeps from 1 until an armed run completes without tripping, so
 * EVERY mutation boundary of one protocol cycle is a tested crash point.
 * After each crash a fresh "process" recovers along the protocol's own
 * documented path (lease expiry + re-publish, same-batch replay, commit
 * retry + expiry scan) and the post-recovery invariants are asserted:
 * pointer present and readable, no lost buckets or rows, no dual verdicts,
 * no staging/trash debris.
 *
 * Only MUTATING ops (create/delete/rename/mkdirs/setTimes) are crash
 * points: a read that fails aborts control flow exactly like crashing at
 * the next mutation, and dead-mode reads throw rather than lie, so read
 * boundaries add no distinct recovery states.
 *
 * Each iteration starts from a byte-copy of a template directory built
 * once per protocol — state setup costs a file copy, not a Spark job.
 */
class Round17CrashSweepSpec extends SparkSpec with CrashSweepHarness {
  import spark.implicits._


  // ---------------------------------------------------------------- A
  test("SnapshotStore publish survives a crash at every mutation point") {
    val contentA = (1 to 4).map(i => (i, "a"))
    val contentB = (1 to 4).map(i => (i, "b")) :+ (5, "b")
    def dfB = contentB.toDF("k", "v").coalesce(1)

    val tpl = Files.createTempDirectory("tpl-snap-").toFile
    InstrumentedFs.reset()
    SnapshotStore.publish(spark, s"ifs://$tpl/store", 1L)(() =>
      contentA.toDF("k", "v").coalesce(1))

    def read(root: String, v: Long): Set[(Int, String)] =
      SnapshotStore.readSnapshot(spark, s"$root/store", Some(v))
        .as[(Int, String)].collect().toSet

    val swept = sweep("snapshot", tpl,
      attempt = (root, _) =>
        SnapshotStore.publish(spark, s"$root/store", 2L)(() => dfB),
      recover = (root, local) => {
        // MID-CRASH invariant first: the store is readable at a committed
        // epoch whose content is exactly A or exactly B — never torn
        val lv = SnapshotStore.latestVersion(spark, s"$root/store")
        assert(lv === Some(1L) || lv === Some(2L), s"pointer lost: $lv")
        assert(read(root, lv.get) ===
          (if (lv.get == 1L) contentA.toSet else contentB.toSet))
        // the crashed writer's lease expires (fast-forwarded), then the
        // batch replays — the documented recovery path
        val store = new java.io.File(local, "store")
        val old = System.currentTimeMillis() - SnapshotStore.DefaultLockLeaseMs - 60000
        names(store).filter(_.startsWith("_LATEST.lock"))
          .foreach(f => new java.io.File(store, f).setLastModified(old))
        SnapshotStore.publish(spark, s"$root/store", 2L)(() => dfB)
      },
      invariant = (root, local) => {
        assert(SnapshotStore.latestVersion(spark, s"$root/store") === Some(2L))
        assert(read(root, 2L) === contentB.toSet)
        assert(read(root, 1L) === contentA.toSet) // retained epoch intact
        val leftover = names(new java.io.File(local, "store"))
        assert(!leftover.exists(_.startsWith("_staging_v=")),
          s"staging debris after recovery: $leftover")
        assert(!leftover.contains("_LATEST.lock"),
          "writer lock leaked past a completed recovery publish")
      })
    info(s"snapshot publish: $swept crash points swept green")
    assert(swept >= 10, s"suspiciously few crash points ($swept) — matcher broken?")
  }

  // ---------------------------------------------------------------- A2
  test("SQL INSERT into a snapshot store survives a crash at every mutation point") {
    // `INSERT INTO <catalog>.<ns>.<table>` runs SnapshotStore.publishNext:
    // the epoch number and the union basis resolve under the lease. One
    // catalog rooted at the temp directory serves every iteration, each
    // copy being its own namespace.
    val old = (1 to 4).map(i => (i, "old"))
    val both = (old ++ Seq((5, "new"), (6, "new"))).toSet
    val tpl = Files.createTempDirectory("tpl-ins-").toFile
    InstrumentedFs.reset()
    SnapshotStore.publish(spark, s"ifs://$tpl/t", 1L)(() =>
      old.toDF("k", "v").coalesce(1))
    spark.conf.set("spark.sql.catalog.sweepsql", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.sweepsql.path", s"ifs://${tpl.getParent}")

    def insert(local: java.io.File): Unit =
      spark.sql(s"INSERT INTO sweepsql.`${local.getName}`.t " +
        "VALUES (5, 'new'), (6, 'new')")
    def read(root: String, v: Long): Set[(Int, String)] =
      SnapshotStore.readSnapshot(spark, s"$root/t", Some(v))
        .as[(Int, String)].collect().toSet

    val swept = sweep("insert", tpl,
      attempt = (_, local) => insert(local),
      recover = (root, local) => {
        // MID-CRASH: a committed epoch holding exactly the old rows or
        // exactly old ∪ inserted — never torn, never pointerless
        val lv = SnapshotStore.latestVersion(spark, s"$root/t")
        assert(lv === Some(1L) || lv === Some(2L), s"pointer lost: $lv")
        assert(read(root, lv.get) === (if (lv.get == 1L) old.toSet else both))
        val store = new java.io.File(local, "t")
        val expired = System.currentTimeMillis() - SnapshotStore.DefaultLockLeaseMs - 60000
        names(store).filter(_.startsWith("_LATEST.lock"))
          .foreach(f => new java.io.File(store, f).setLastModified(expired))
        // an INSERT is not idempotent: re-run it only if its epoch never
        // committed; otherwise the next writer just breaks the dead lock
        if (lv.contains(1L)) insert(local)
        else SnapshotStore.withWriterLock(spark, s"$root/t")(())
      },
      invariant = (root, local) => {
        assert(SnapshotStore.latestVersion(spark, s"$root/t") === Some(2L))
        assert(read(root, 2L) === both)
        assert(read(root, 1L) === old.toSet) // retained epoch intact
        val leftover = names(new java.io.File(local, "t"))
        assert(!leftover.exists(_.startsWith("_staging_v=")),
          s"staging debris after recovery: $leftover")
        assert(!leftover.contains("_LATEST.lock"),
          "writer lock leaked past a completed recovery")
      })
    info(s"SQL INSERT: $swept crash points swept green")
    assert(swept >= 20, s"suspiciously few crash points ($swept)")
  }

  // ---------------------------------------------------------------- B
  test("bucketed upsert survives a crash at every mutation point (same-batch replay)") {
    val keys = Seq("k")
    def apply(root: String, rows: Seq[(Int, String, Long, Boolean)]): Unit =
      UpsertSink.upsertBucketed(rows.toDF("k", "v", "ver", "del"),
        s"$root/tbl", keys, "ver", deleteCol = Some("del"), nBuckets = 4)

    val batch1 = (1 to 12).map(k => (k, "v1", 1L, false))
    val batch2 = Seq((1, "v2", 2L, false), (5, "v2", 2L, false),
      (9, "v2", 2L, false), (13, "v2", 2L, false), (2, "gone", 2L, true))
    val expected = ((3 to 12).filter(_ != 5).filter(_ != 9).map(k => (k, "v1")) ++
      Seq((1, "v2"), (5, "v2"), (9, "v2"), (13, "v2"))).toSet

    val tpl = Files.createTempDirectory("tpl-buck-").toFile
    InstrumentedFs.reset()
    apply(s"ifs://$tpl", batch1)

    val swept = sweep("bucketed", tpl,
      attempt = (root, _) => apply(root, batch2),
      recover = (root, _) => apply(root, batch2), // the canonical replay
      invariant = (root, local) => {
        val got = spark.read.parquet(s"$root/tbl")
          .select("k", "v").as[(Int, String)].collect().toSet
        assert(got === expected, "bucketed table diverged after replay")
        assert(names(new java.io.File(local, "tbl__old")).isEmpty,
          "swap trash left unreconciled after a completed replay")
        assert(!new java.io.File(local, "tbl__stage").exists() ||
          names(new java.io.File(local, "tbl__stage")).isEmpty)
      })
    info(s"bucketed upsert: $swept crash points swept green")
    assert(swept >= 10, s"suspiciously few crash points ($swept)")
  }

  // ---------------------------------------------------------------- D
  test("oracle begin/commit/gc survives a crash at every mutation point") {
    val conf = spark.sparkContext.hadoopConfiguration
    val tpl = Files.createTempDirectory("tpl-tso-").toFile
    InstrumentedFs.reset()
    locally { // template: ts1 committed and gc'd — floor at 1
      val root = s"ifs://$tpl"
      val t1 = TimestampOracle.begin(conf, root)
      TimestampOracle.commit(conf, root, t1)
      TimestampOracle.gc(conf, root, TimestampOracle.DefaultLeaseMs)
    }
    var allocated: Option[TimestampOracle.Ts] = None

    val swept = sweep("oracle", tpl,
      attempt = (root, _) => {
        allocated = None
        val t2 = TimestampOracle.begin(conf, root)
        allocated = Some(t2)
        TimestampOracle.commit(conf, root, t2)
        TimestampOracle.gc(conf, root, TimestampOracle.DefaultLeaseMs)
      },
      recover = (root, _) => {
        // the lost-ack retry: a caller whose commit response vanished
        // retries; it must re-apply idempotently or fence loudly — and
        // here (no expiry scan ran yet) it always succeeds
        allocated.foreach(t2 => TimestampOracle.commit(conf, root, t2))
        Thread.sleep(30)
        TimestampOracle.safePoint(conf, root, leaseMs = 1L) // expire orphans
        TimestampOracle.gc(conf, root, leaseMs = 1L)
      },
      invariant = (root, local) => {
        // no dual verdicts, ever; ts1's commit verdict never flipped
        val markers = names(new java.io.File(local, "_tso"))
        val cs = markers.filter(_.startsWith("c=")).map(_.drop(2).toLong).toSet
        val as = markers.filter(_.startsWith("a=")).map(_.drop(2).toLong).toSet
        assert((cs intersect as).isEmpty, s"dual verdicts: ${cs intersect as}")
        assert(!as.contains(1L), "ts1's delivered commit read as aborted")
        // the sequence continues uniquely above everything allocated
        val expectNext = allocated.map(_.ts + 1).getOrElse(2L)
        assert(TimestampOracle.begin(conf, root).ts === expectNext,
          "recovered oracle re-issued or skipped a timestamp")
      })
    info(s"oracle cycle: $swept crash points swept green")
    assert(swept >= 3, s"suspiciously few crash points ($swept)")
  }

  // ---------------------------------------------------------------- E
  test("2PC fan-out publish survives a crash at every mutation point") {
    // publishAll: all leases, all stages, then all pointer flips.
    // A crash mid-phase-2 can leave a PREFIX of stores flipped (the
    // documented window a real coordinator closes with a commit record);
    // the invariant is per-store epoch integrity mid-crash and full
    // convergence after lease expiry + re-publish.
    def dfFor(t: String, e: Int) =
      (1 to 4).map(i => (i, s"$t-e$e")).toDF("k", "v").coalesce(1)
    def publishBoth(root: String, version: Long): Unit =
      SnapshotStore.publishAll(spark, Seq(
        s"$root/x" -> (() => dfFor("x", version.toInt)),
        s"$root/y" -> (() => dfFor("y", version.toInt))), version)
    def read(root: String, t: String): Set[(Int, String)] =
      SnapshotStore.readSnapshot(spark, s"$root/$t")
        .as[(Int, String)].collect().toSet

    val tpl = Files.createTempDirectory("tpl-fan-").toFile
    InstrumentedFs.reset()
    publishBoth(s"ifs://$tpl", 1L)

    val swept = sweep("fanout", tpl,
      attempt = (root, _) => publishBoth(root, 2L),
      recover = (root, local) => {
        // mid-crash: EACH store independently reads a complete epoch
        Seq("x", "y").foreach { t =>
          val lv = SnapshotStore.latestVersion(spark, s"$root/$t")
          assert(lv === Some(1L) || lv === Some(2L), s"$t pointer lost: $lv")
          assert(read(root, t) ===
            (1 to 4).map(i => (i, s"$t-e${lv.get}")).toSet, s"$t torn")
        }
        val old = System.currentTimeMillis() - SnapshotStore.DefaultLockLeaseMs - 60000
        Seq("x", "y").foreach { t =>
          val d = new java.io.File(local, t)
          names(d).filter(_.startsWith("_LATEST.lock"))
            .foreach(f => new java.io.File(d, f).setLastModified(old))
        }
        publishBoth(root, 2L)
      },
      invariant = (root, local) => Seq("x", "y").foreach { t =>
        assert(SnapshotStore.latestVersion(spark, s"$root/$t") === Some(2L))
        assert(read(root, t) === (1 to 4).map(i => (i, s"$t-e2")).toSet)
        val leftover = names(new java.io.File(local, t))
        assert(!leftover.exists(_.startsWith("_staging_v=")), s"$t: $leftover")
        assert(!leftover.contains("_LATEST.lock"), s"$t lock leaked")
      })
    info(s"2PC fan-out: $swept crash points swept green")
    assert(swept >= 15, s"suspiciously few crash points ($swept)")
  }

  // ---------------------------------------------------------------- F
  test("oracle-stamped publish survives a crash at every mutation point") {
    // the composed choreography: begin -> publish epoch ts -> commit ts.
    // Publish-before-commit is the consistency fence; recovery is a NEW
    // allocation (the orphan lease-expires), and the safe point must end
    // gap-free with the store pinned readable at it.
    // content is epoch-independent: the stamped publish numbers epochs by
    // the ORACLE timestamp, which a recovery attempt re-allocates fresh
    val content = (1 to 4).map(i => (i, "payload")).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    def publish(root: String): Long =
      TimestampOracle.publish(FileTso(conf, root), spark, root,
        Seq("t" -> (() => content.toSeq.toDF("k", "v").coalesce(1))))

    val tpl = Files.createTempDirectory("tpl-glob-").toFile
    InstrumentedFs.reset()
    assert(publish(s"ifs://$tpl") === 1L)

    val swept = sweep("stamped", tpl,
      attempt = (root, _) => { publish(root); () },
      recover = (root, local) => {
        val old = System.currentTimeMillis() - SnapshotStore.DefaultLockLeaseMs - 60000
        val d = new java.io.File(local, "t")
        names(d).filter(_.startsWith("_LATEST.lock"))
          .foreach(f => new java.io.File(d, f).setLastModified(old))
        publish(root)
        Thread.sleep(30)
        TimestampOracle.safePoint(conf, root, leaseMs = 1L) // expire orphans
        TimestampOracle.gc(conf, root, leaseMs = 1L)
      },
      invariant = (root, local) => {
        // the recovery publish's epoch is committed and pinned-readable
        // at the safe point; no dual verdicts anywhere
        val sp = TimestampOracle.safePoint(conf, root,
          TimestampOracle.DefaultLeaseMs)
        val lv = SnapshotStore.latestVersion(spark, s"$root/t")
        assert(lv.nonEmpty && lv.get <= sp,
          s"committed epoch $lv above the safe point $sp")
        val pinned = TimestampOracle.readStoreAt(spark, root, Seq("t"), sp)
        assert(pinned("t").nonEmpty, "safe point pins no epoch")
        assert(pinned("t").get.as[(Int, String)].collect().toSet === content)
        val markers = names(new java.io.File(local, "_tso"))
        val cs = markers.filter(_.startsWith("c=")).map(_.drop(2).toLong).toSet
        val as = markers.filter(_.startsWith("a=")).map(_.drop(2).toLong).toSet
        assert((cs intersect as).isEmpty, s"dual verdicts: ${cs intersect as}")
      })
    info(s"oracle-stamped publish: $swept crash points swept green")
    assert(swept >= 15, s"suspiciously few crash points ($swept)")
  }

  test("bucket compaction survives a crash at every mutation point") {
    // upserts REPLACE whole buckets (their swap always leaves the merge's
    // own fresh part-files), so multi-file buckets come from multi-task
    // writes — built here with an Append write of disjoint keys
    def write(root: String, rows: Seq[(Int, String, Long)],
        mode: String): Unit =
      rows.toDF("k", "v", "ver")
        .withColumn(BucketedTable.BucketCol,
          BucketedTable.bucketOf(Seq(col("k")), 2))
        .coalesce(1)
        .write.mode(mode).partitionBy(BucketedTable.BucketCol)
        .parquet(s"$root/tbl")

    val rows1 = (1 to 8).map(k => (k, "v1", 1L))
    val rows2 = (9 to 12).map(k => (k, "v2", 2L))
    val tpl = Files.createTempDirectory("tpl-comp-").toFile
    InstrumentedFs.reset()
    write(s"ifs://$tpl", rows1, "overwrite")
    write(s"ifs://$tpl", rows2, "append") // second part-file per bucket
    val expected =
      (rows1.map(r => (r._1, r._2)) ++ rows2.map(r => (r._1, r._2))).toSet

    val swept = sweep("compact", tpl,
      attempt = (root, _) => { BucketedTable.compact(spark, s"$root/tbl", 2); () },
      recover = (root, _) => { BucketedTable.compact(spark, s"$root/tbl", 2); () },
      invariant = (root, local) => {
        val got = spark.read.parquet(s"$root/tbl")
          .select("k", "v").as[(Int, String)].collect().toSet
        assert(got === expected, "compaction changed table content")
        assert(names(new java.io.File(local, "tbl__old")).isEmpty,
          "swap trash left unreconciled after recovery compaction")
      })
    info(s"compaction: $swept crash points swept green")
    assert(swept >= 5, s"suspiciously few crash points ($swept)")
  }
}
