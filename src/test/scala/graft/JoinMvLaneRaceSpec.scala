package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import graft.JoinMvModel.{Dim, Fact}
import graft.streaming.BucketedTable

/** The lanes of a [[graft.streaming.JoinMv]] batch read tables that other
  * lanes are swapping. A swap moves each touched bucket out to the trash,
  * then moves its new content in; between those two renames the bucket
  * exists only in the trash. A reader that lists the table root then sees
  * the table without that bucket, and a trash reconcile "restores" it over
  * the swap. This spec holds one `left` bucket between its renames until
  * the MV recompute has read an untouched `left` bucket from disk, and
  * asserts that no other thread listed a table root or touched a trash
  * directory while any of the four tables was between renames. */
class JoinMvLaneRaceSpec extends SparkSpec {
  import spark.implicits._
  InstrumentedFs.configure(spark.sparkContext.hadoopConfiguration)

  private val nBuckets = 8
  private val Tables = Seq("left", "right", "left_by_fk", "mv")
  private val BucketDir = BucketedTable.BucketCol + "="

  test("no lane lists a table root or reconciles trash while a swap on " +
    "that table is between its renames") {
    val local = Files.createTempDirectory("jmv-race-").toFile
    val root = s"ifs://$local"
    val factKeys = (0L until 64L).toIndexedSeq
    val bucketOf = factKeys.toDF("k")
      .select($"k", BucketedTable.bucketOf(Seq($"k"), nBuckets))
      .as[(Long, Int)].collect().toMap
    val fa0: Seq[Fact] = factKeys.map(k => (k, 1L, "upsert", 100L + k % 16, k.toDouble))
    val fb0: Seq[Dim] = (100L until 116L).map(d => (d, 1L, "upsert", s"d$d"))
    InstrumentedFs.reset()
    JoinMvModel.apply(root, nBuckets, JoinMvModel.factsDf(spark, fa0),
      JoinMvModel.dimsDf(spark, fb0), 0L)

    // batch 1: every fact of ONE left bucket changes; one dim changes
    // whose facts sit in other left buckets, which the MV recompute then
    // reads from disk while the left swap is in flight
    val touched = bucketOf(0L)
    val fa1: Seq[Fact] = factKeys.filter(bucketOf(_) == touched)
      .map(k => (k, 2L, "upsert", 100L + (k + 1) % 16, k + 0.5))
    val d = (100L until 116L).find(d => factKeys.exists(k =>
      100L + k % 16 == d && bucketOf(k) != touched)).get
    val untouched = factKeys.filter(k => 100L + k % 16 == d && bucketOf(k) != touched)
      .map(bucketOf).toSet -- fa1.map(f => bucketOf(f._1)).toSet
    assert(untouched.nonEmpty)
    val fb1: Seq[Dim] = Seq((d, 2L, "upsert", s"d$d-renamed"))

    def rel(p: String): Option[String] = {
      val i = p.indexOf(s"${local.getName}/jmv/")
      if (i < 0) None else Some(p.substring(i + local.getName.length + 5))
    }
    val between = new ConcurrentHashMap[String, Thread]() // table -> swapping thread
    val violations = new ConcurrentLinkedQueue[String]()
    val leftOpen = new CountDownLatch(1)
    val untouchedRead = new CountDownLatch(1)
    InstrumentedFs.observeOps { (op, p) =>
      rel(p).foreach { r =>
        val me = Thread.currentThread()
        Tables.foreach { t =>
          if (op == "rename" && r.startsWith(s"$t/$BucketDir")) {
            between.put(t, me) // rename-out
            if (t == "left") leftOpen.countDown()
          } else if ((op == "rename" && r.startsWith(s"${t}__stage/")) ||
              (op == "delete" && r == s"${t}__old"))
            between.remove(t, me) // rename-in, or the swap's end
          else Option(between.get(t)).filter(_ ne me).foreach { _ =>
            if ((op == "listStatus" && r == t) || r.startsWith(s"${t}__old"))
              violations.add(s"$op($r) on ${me.getName} while $t was between renames")
          }
        }
        if (op == "listStatus" && between.containsKey("left") &&
            untouched.exists(b => r == s"left/$BucketDir$b"))
          untouchedRead.countDown()
      }
    }
    // the right merge (which the MV recompute waits for) starts only once
    // the left swap has moved its bucket out ...
    InstrumentedFs.beforeOp("listStatus", s"${local.getName}/jmv/right/$BucketDir") {
      leftOpen.await(60, TimeUnit.SECONDS)
    }
    // ... and the left bucket stays out until the MV recompute has listed
    // an untouched left bucket
    val interleaved = new java.util.concurrent.atomic.AtomicBoolean(false)
    InstrumentedFs.beforeOp("rename", s"${local.getName}/jmv/left__stage/$BucketDir") {
      interleaved.set(untouchedRead.await(60, TimeUnit.SECONDS))
    }
    try JoinMvModel.apply(root, nBuckets, JoinMvModel.factsDf(spark, fa1),
      JoinMvModel.dimsDf(spark, fb1), 1L)
    finally InstrumentedFs.reset()

    assert(interleaved.get, "the MV recompute did not read an untouched left " +
      "bucket while the left swap was between its renames")
    assert(violations.isEmpty, violations.toArray.mkString("\n"))
    val model = JoinMvModel().applied(fa0, fb0).applied(fa1, fb1)
    val got = JoinMvModel.stored(spark, root, 1L)
    assert(got.left === model.facts)
    assert(got.right === model.dims)
    assert(got.index === model.index)
    assert(got.mv === model.mv)
  }
}
