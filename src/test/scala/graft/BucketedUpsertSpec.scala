package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.streaming.{BucketedTable, ChangelogOps, IncrementalMv, UpsertSink}

/** The O(delta) property of the bucketed MV write path: a micro-batch
  * rewrites ONLY the bucket directories holding its keys; every other
  * bucket's files stay byte-identical (not rewritten, not renamed). */
class BucketedUpsertSpec extends SparkSpec {
  import spark.implicits._

  /** relative path -> (size, md5) for every file under dir. */
  private def snapshot(dir: String): Map[String, (Long, String)] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      // metadata files (the _applied_batch replay marker) legitimately
      // change every batch; byte-identity is a claim about BUCKET data
      .filter(p => !p.getFileName.toString.startsWith("_"))
      .map { p =>
        val bytes = Files.readAllBytes(p)
        val md5 = MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
        root.relativize(p).toString -> (bytes.length.toLong, md5)
      }.toMap
  }

  private def bucketOfKey(key: Long, n: Int): Int =
    Seq(Tuple1(key)).toDF("k")
      .select(BucketedTable.bucketOf(Seq($"k"), n)).as[Int].head()

  test("bucketed upsert matches whole-table upsert semantics") {
    val base = Files.createTempDirectory("bu").toString
    val b1 = Seq((1L, 1L, 10.0, false), (2L, 1L, 20.0, false), (3L, 1L, 30.0, false))
      .toDF("k", "version", "value", "is_delete")
    val b2 = Seq((2L, 2L, 21.0, false), (3L, 2L, 0.0, true), (4L, 1L, 40.0, false))
      .toDF("k", "version", "value", "is_delete")
    for (b <- Seq(b1, b2))
      UpsertSink.upsertBucketed(b, s"$base/bucketed", Seq("k"), "version", Some("is_delete"), 8)
    def state(p: String) = spark.read.parquet(p)
      .select("k", "version", "value").as[(Long, Long, Double)].collect().toSet
    // the whole-table model: latest version per key over every batch, then
    // tombstones dropped
    val model = ChangelogOps.latestByKey(b1.unionByName(b2), Seq("k"), "version")
      .filter(!$"is_delete")
      .select("k", "version", "value").as[(Long, Long, Double)].collect().toSet
    assert(state(s"$base/bucketed") === model)
    assert(state(s"$base/bucketed") === Set((1L, 1L, 10.0), (2L, 2L, 21.0), (4L, 1L, 40.0)))
    // replay of b2 is a no-op on values
    UpsertSink.upsertBucketed(b2, s"$base/bucketed", Seq("k"), "version", Some("is_delete"), 8)
    assert(state(s"$base/bucketed") === Set((1L, 1L, 10.0), (2L, 2L, 21.0), (4L, 1L, 40.0)))
  }

  test("an interrupted bucket swap reconciles: displaced restored, debris dropped") {
    val base = Files.createTempDirectory("bucrash").toString + "/t"
    val b1 = Seq((1L, 1L, 10.0, false), (2L, 1L, 20.0, false))
      .toDF("k", "version", "value", "is_delete")
    UpsertSink.upsertBucketed(b1, base, Seq("k"), "version",
      Some("is_delete"), 8)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (bk1, bk2) = (bucketOfKey(1L, 8), bucketOfKey(2L, 8))
    assume(bk1 != bk2, "fixture needs the two keys in different buckets")
    def bucketDir(b: Int) =
      new org.apache.hadoop.fs.Path(base, s"__bucket=$b")
    val trash = new org.apache.hadoop.fs.Path(base + "__old")
    fs.mkdirs(trash)
    // crash shape 1: key 1's bucket displaced to trash, replacement never
    // landed — the trash copy is the ONLY copy
    assert(fs.rename(bucketDir(bk1),
      new org.apache.hadoop.fs.Path(trash, bk1.toString)))
    // crash shape 2: key 2's bucket has superseded debris in trash (its
    // replacement DID land — the live dir is present and newer)
    org.apache.hadoop.fs.FileUtil.copy(fs, bucketDir(bk2), fs,
      new org.apache.hadoop.fs.Path(trash, bk2.toString), false,
      spark.sparkContext.hadoopConfiguration)
    // the next batch (touching a third key) must reconcile BOTH shapes
    val b2 = Seq((9L, 2L, 90.0, false)).toDF("k", "version", "value", "is_delete")
    UpsertSink.upsertBucketed(b2, base, Seq("k"), "version",
      Some("is_delete"), 8)
    val state = spark.read.parquet(base)
      .select("k", "value").as[(Long, Double)].collect().toSet
    assert(state === Set((1L, 10.0), (2L, 20.0), (9L, 90.0)),
      "the displaced bucket's rows must survive the replayed swap")
    assert(!fs.exists(trash) || fs.listStatus(trash).isEmpty,
      "reconciliation must leave no trash behind")
  }

  test("the CANONICAL crash replay — the same batch, touching the displaced bucket — loses nothing") {
    // a real crash replay re-delivers the batch whose swap died, which by
    // definition touches the displaced bucket: the reconciliation must
    // run BEFORE the merge basis is read, or the replay computes
    // batch-only content and overwrites the restored bucket with it
    val base = Files.createTempDirectory("bucrash2").toString + "/t"
    val b1 = Seq((1L, 1L, 10.0, false), (2L, 1L, 20.0, false))
      .toDF("k", "version", "value", "is_delete")
    UpsertSink.upsertBucketed(b1, base, Seq("k"), "version",
      Some("is_delete"), 8)
    // seed a key into THE SAME BUCKET as key 1 that the replayed batch
    // will NOT carry — the row the broken ordering silently dropped
    val bk1 = bucketOfKey(1L, 8)
    val other = (3L to 200L).find(k => bucketOfKey(k, 8) == bk1).get
    val seed = Seq((other, 1L, 70.0, false))
      .toDF("k", "version", "value", "is_delete")
    UpsertSink.upsertBucketed(seed, base, Seq("k"), "version",
      Some("is_delete"), 8)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trash = new org.apache.hadoop.fs.Path(base + "__old")
    fs.mkdirs(trash)
    // simulate batch 2's swap dying between its two renames on bucket bk1
    assert(fs.rename(new org.apache.hadoop.fs.Path(base, s"__bucket=$bk1"),
      new org.apache.hadoop.fs.Path(trash, bk1.toString)))
    // ... and REPLAY a batch that touches that very bucket
    val b2 = Seq((1L, 2L, 11.0, false)).toDF("k", "version", "value", "is_delete")
    UpsertSink.upsertBucketed(b2, base, Seq("k"), "version",
      Some("is_delete"), 8)
    val state = spark.read.parquet(base)
      .select("k", "value").as[(Long, Double)].collect().toSet
    assert(state === Set((1L, 11.0), (2L, 20.0), (other, 70.0)),
      "pre-existing keys of the displaced bucket must survive the replay " +
        "that touches it")
  }

  test("additive tables refuse to merge over an interrupted swap (assertCleanTrash)") {
    val base = Files.createTempDirectory("buadd").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    BucketedTable.assertCleanTrash(spark, base) // absent trash: fine
    val trash = new org.apache.hadoop.fs.Path(base + "__old")
    fs.mkdirs(trash)
    BucketedTable.assertCleanTrash(spark, base) // empty trash: fine
    fs.mkdirs(new org.apache.hadoop.fs.Path(trash, "3"))
    val ex = intercept[IllegalStateException] {
      BucketedTable.assertCleanTrash(spark, base)
    }
    assert(ex.getMessage.contains("double-apply"), ex.getMessage)
    // and the marker makes EVERY reconcile path refuse, not just the one
    // caller that asserted: a latest-wins upsert (whose readTouched
    // would silently roll the trash forward and destroy the evidence)
    // must halt on a marked-additive table too
    BucketedTable.markAdditive(spark, base)
    val b = Seq((1L, 1L, 1.0, false)).toDF("k", "version", "value", "is_delete")
    val ex2 = intercept[IllegalStateException] {
      UpsertSink.upsertBucketed(b, base, Seq("k"), "version",
        Some("is_delete"), 8)
    }
    assert(ex2.getMessage.contains("double-apply"), ex2.getMessage)
  }

  test("bucketed upsert in reliable mode reaches the same state") {
    val base = Files.createTempDirectory("bur").toString
    val b1 = Seq((1L, 1L, 10.0, false), (2L, 1L, 20.0, false))
      .toDF("k", "version", "value", "is_delete")
    val b2 = Seq((2L, 2L, 21.0, false), (1L, 2L, 0.0, true))
      .toDF("k", "version", "value", "is_delete")
    withDurableLineage { _ =>
      for (b <- Seq(b1, b2))
        UpsertSink.upsertBucketed(b, base, Seq("k"), "version", Some("is_delete"),
          nBuckets = 8)
    }
    assert(spark.read.parquet(base).select("k", "version", "value")
      .as[(Long, Long, Double)].collect().toSet === Set((2L, 2L, 21.0)))
  }

  test("a batch leaves untouched buckets byte-identical") {
    val n = 16
    val target = Files.createTempDirectory("bu2").toString + "/t"
    val load = (1L to 50L).map(k => (k, 1L, k * 1.0, false))
      .toDF("k", "version", "value", "is_delete")
    UpsertSink.upsertBucketed(load, target, Seq("k"), "version", Some("is_delete"), n)

    val before = snapshot(target)
    val hot = 42L
    val hotBucket = bucketOfKey(hot, n)
    UpsertSink.upsertBucketed(
      Seq((hot, 2L, 99.0, false)).toDF("k", "version", "value", "is_delete"),
      target, Seq("k"), "version", Some("is_delete"), n)
    val after = snapshot(target)

    def untouched(s: Map[String, (Long, String)]) =
      s.view.filterKeys(!_.startsWith(s"__bucket=$hotBucket/")).toMap
    assert(untouched(after) === untouched(before),
      "files outside the hot key's bucket must not change in any way")
    assert(after.keys.exists(_.startsWith(s"__bucket=$hotBucket/")))
    assert(after.filter(_._1.startsWith(s"__bucket=$hotBucket/"))
      !== before.filter(_._1.startsWith(s"__bucket=$hotBucket/")))
    val got = spark.read.parquet(target).filter($"k" === hot)
      .select("version", "value").as[(Long, Double)].head()
    assert(got === ((2L, 99.0)))
  }

  test("bucketed upsert rejects a flat (non-bucketed) target loudly") {
    val target = Files.createTempDirectory("buflat").toString + "/t"
    val b = Seq((1L, 1L, 1.0, false)).toDF("k", "version", "value", "is_delete")
    b.write.parquet(target)
    val e = intercept[IllegalStateException] {
      UpsertSink.upsertBucketed(b, target, Seq("k"), "version", Some("is_delete"), 4)
    }
    assert(e.getMessage.contains("non-bucketed"))
    // the flat table is untouched: no rows changed, no sidecar pinned
    assert(spark.read.parquet(target).count() === 1)
    assert(!Files.exists(Paths.get(target, "_n_buckets")))
  }

  test("BinaryType round-trips through the upsert sink") {
    val base = Files.createTempDirectory("bin").toString + "/t"
    val b1 = Seq(
      (1L, 1L, Array[Byte](1, 2, 3), false),
      (2L, 1L, Array[Byte](-1, 0, 127), false))
      .toDF("k", "version", "payload", "is_delete")
    UpsertSink.upsertBucketed(b1, base, Seq("k"), "version", Some("is_delete"), 4)
    val b2 = Seq((1L, 2L, Array[Byte](9, 9), false))
      .toDF("k", "version", "payload", "is_delete")
    UpsertSink.upsertBucketed(b2, base, Seq("k"), "version", Some("is_delete"), 4)
    val got = spark.read.parquet(base).select("k", "payload")
      .as[(Long, Array[Byte])].collect()
      .map { case (k, p) => (k, p.toSeq) }.toMap
    assert(got === Map(1L -> Seq[Byte](9, 9), 2L -> Seq[Byte](-1, 0, 127)))
  }

  test("DECIMAL and DATE round-trip byte-exact through the bucketed sink") {
    // a part_typed shape: DECIMAL(12,2) price, DATE ship date, BINARY tag —
    // the three Catalyst types the reference's TypeUtils round-trips that
    // the DOUBLE/TIMESTAMP testdata never exercises end-to-end
    val base = Files.createTempDirectory("typed").toString + "/t"
    val b1 = graft.sources.Tables.part(spark, sf)
      .select($"p_partkey".as("k"), lit(1L).as("version"),
        $"p_retailprice".cast("decimal(12,2)").as("price"),
        to_date(lit("2024-03-01")).as("ship_date"),
        unhex(lpad(hex($"p_partkey"), 8, "0")).as("tag"),
        lit(false).as("is_delete"))
    UpsertSink.upsertBucketed(b1, base, Seq("k"), "version", Some("is_delete"), 8)
    // upsert one row with new typed values; everything else must be exact
    val b2 = b1.filter($"k" === 1L)
      .withColumn("version", lit(2L))
      .withColumn("price", lit("12345.67").cast("decimal(12,2)"))
      .withColumn("ship_date", to_date(lit("2025-12-31")))
    UpsertSink.upsertBucketed(b2, base, Seq("k"), "version", Some("is_delete"), 8)

    val got = spark.read.parquet(base)
    assert(got.schema("price").dataType ===
      org.apache.spark.sql.types.DecimalType(12, 2))
    assert(got.schema("ship_date").dataType ===
      org.apache.spark.sql.types.DateType)
    val byKey = got.select($"k", $"price".cast("string"), $"ship_date".cast("string"),
        hex($"tag"))
      .as[(Long, String, String, String)].collect().map(r => r._1 -> r).toMap
    assert(byKey(1L) === (1L, "12345.67", "2025-12-31", "00000001"))
    // an untouched key keeps its original decimal/date/binary exactly
    val orig = b1.filter($"k" === 2L)
      .select($"k", $"price".cast("string"), $"ship_date".cast("string"), hex($"tag"))
      .as[(Long, String, String, String)].head()
    assert(byKey(2L) === orig)
  }

  test("IncrementalMv rewrites only entity/agg buckets touched by the batch") {
    val base = Files.createTempDirectory("bu3").toString + "/mv"
    val load = (1L to 40L).map(k => (k, 1L, "ins", s"g${k % 10}", k * 1.0))
      .toDF("pk", "version", "op", "grp", "value")
    IncrementalMv.maintain(base, "pk", "version", "op", "grp", "value", nBuckets = 8)(load, 0L)

    val beforeE = snapshot(s"$base/entity")
    val beforeA = snapshot(s"$base/agg")
    val hot = 17L
    val hotE = bucketOfKey(hot, 8)
    // group moves g7 -> g3: both groups' agg buckets may change
    val dirtyAggBuckets = Seq("g7", "g3").map(g =>
      Seq(Tuple1(g)).toDF("g").select(BucketedTable.bucketOf(Seq($"g"), 8)).as[Int].head()).toSet
    IncrementalMv.maintain(base, "pk", "version", "op", "grp", "value", nBuckets = 8)(
      Seq((hot, 2L, "upd", "g3", 17.5)).toDF("pk", "version", "op", "grp", "value"), 1L)

    def outside(s: Map[String, (Long, String)], buckets: Set[Int]) =
      s.view.filterKeys(k => !buckets.exists(b => k.startsWith(s"__bucket=$b/"))).toMap
    assert(outside(snapshot(s"$base/entity"), Set(hotE)) === outside(beforeE, Set(hotE)))
    assert(outside(snapshot(s"$base/agg"), dirtyAggBuckets) === outside(beforeA, dirtyAggBuckets))

    // and the view is still exact
    val agg = spark.read.parquet(s"$base/agg")
      .select("grp", "cnt", "total").as[(String, Long, Double)].collect().toSet
    val want = ((1L to 40L).filter(_ != hot).map(k => (s"g${k % 10}", k * 1.0)) :+ (("g3", 17.5)))
      .groupBy(_._1).map { case (g, vs) => (g, vs.size.toLong, vs.map(_._2).sum) }.toSet
    assert(agg === want)
  }

  test("compact rewrites crowded buckets to one file, row-identical, atomically") {
    val base = Files.createTempDirectory("compact").toString
    val path = s"$base/t"
    // rows of every bucket spread across 4 tasks → up to 4 files/bucket
    val df = (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .withColumn(BucketedTable.BucketCol,
        BucketedTable.bucketOf(Seq(col("k")), 4))
      .repartition(4)
    BucketedTable.swapTouched(df, path, Seq(0, 1, 2, 3))
    def filesOf(b: Int): Seq[String] = {
      val d = Paths.get(s"$path/${BucketedTable.BucketCol}=$b")
      Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq
    }
    assert((0 to 3).exists(filesOf(_).size > 1), "precondition: crowded buckets")
    val before = spark.read.parquet(path)
      .select($"k", $"v").as[(Long, String)].collect().toSet
    val singles = (0 to 3).filter(filesOf(_).size == 1)

    val compacted = BucketedTable.compact(spark, path)
    assert(compacted.nonEmpty)
    assert(compacted.intersect(singles).isEmpty,
      "a single-file bucket was rewritten for nothing")
    compacted.foreach(b => assert(filesOf(b).size === 1))
    // content is row-identical; only the layout changed
    assert(spark.read.parquet(path)
      .select($"k", $"v").as[(Long, String)].collect().toSet === before)
    // idempotent: nothing left to do
    assert(BucketedTable.compact(spark, path) === Nil)
  }

  test("bucketed upsert pins its bucket count: a changed count fails loudly") {
    // with 64 buckets some keys hash to a bucket >= 16 that the 16-bucket
    // table never had: an unpinned upsert would write them there beside
    // their old rows, and the table would hold those keys twice
    val target = Files.createTempDirectory("bupin").toString + "/t"
    def batch(version: Long) = (1L to 40L).map(k => (k, version, k * 1.0, false))
      .toDF("k", "version", "value", "is_delete")
    UpsertSink.upsertBucketed(batch(1L), target, Seq("k"), "version", Some("is_delete"), 16)
    val e = intercept[IllegalStateException] {
      UpsertSink.upsertBucketed(batch(2L), target, Seq("k"), "version", Some("is_delete"), 64)
    }
    assert(e.getMessage.contains("nBuckets=16") && e.getMessage.contains("nBuckets=64"))
    val got = spark.read.parquet(target).select("k", "version").as[(Long, Long)].collect()
    assert(got.map(_._1).sorted.toSeq === (1L to 40L))
    assert(got.forall(_._2 == 1L), "a refused batch must change nothing")
  }

  test("pinBucketCount: mismatch fails loudly, concurrent first pins agree") {
    val base = Files.createTempDirectory("pin").toString
    BucketedTable.pinBucketCount(spark, s"$base/t1", 8)
    val e = intercept[IllegalStateException] {
      BucketedTable.pinBucketCount(spark, s"$base/t1", 4)
    }
    assert(e.getMessage.contains("nBuckets=8"))
    // re-pinning the SAME count is a no-op
    BucketedTable.pinBucketCount(spark, s"$base/t1", 8)

    // N concurrent FIRST pins of the same count: all must succeed (unique
    // temp per attempt — the old shared-temp path let one racer rename
    // another's in-flight file) and the pinned value must read back
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 8).map { _ =>
      new Thread(() =>
        try BucketedTable.pinBucketCount(spark, s"$base/t2", 16)
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent same-count pins failed: ${errs.asScala.toList}")
    assert(new String(Files.readAllBytes(
      Paths.get(s"$base/t2/_n_buckets")), "UTF-8").trim === "16")

    // racing pins of DIFFERENT counts: exactly one value wins, every
    // loser observes the winner (throws) — never a silent divergent pin
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Int, Int]]()
    val racers = Seq(4, 32).flatMap(n => (1 to 4).map(_ => n)).map { n =>
      new Thread(() =>
        try { BucketedTable.pinBucketCount(spark, s"$base/t3", n); outcomes.add(Right(n)) }
        catch { case _: IllegalStateException => outcomes.add(Left(n)) })
    }
    racers.foreach(_.start()); racers.foreach(_.join())
    val pinned = new String(Files.readAllBytes(
      Paths.get(s"$base/t3/_n_buckets")), "UTF-8").trim.toInt
    assert(Set(4, 32).contains(pinned))
    // every thread that succeeded used the pinned value
    assert(outcomes.asScala.collect { case Right(n) => n }.forall(_ == pinned))
    // and the losing count's threads all failed loudly
    assert(outcomes.asScala.collect { case Left(n) => n }.forall(_ != pinned))
  }
}
