package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.streaming.JoinMv

/**
 * Crash-point ENUMERATION for [[JoinMv.applyBatch]] — the one commit
 * choreography the r17 sweeps did not cover, and the one whose mutation
 * ORDER changed in r18 (the A/B compactions, the left+index chain and the
 * right upsert, and the left swap beside the index swap now run in
 * concurrent lanes). The harness kills the "process" at the Nth mutating
 * filesystem op; with lanes the op that trips varies per interleaving,
 * which is the point — every count position crashes under whatever
 * interleaving that run takes, and the REPLAY contract (re-run the same
 * batch, marker-gated) must hold under all of them: left/right/index/mv
 * converge to the latest-state join, the changelog batch directory is
 * present exactly once, and no swap debris outlives the recovery.
 *
 * The batch exercises every mutation family at once: a fact update that
 * MOVES its fk (index retraction from the old fk's bucket), a fact
 * delete, a new fact, a dim update that fans out, a dim delete leaving a
 * null-padded fact, and a fresh dim.
 */
class JoinMvCrashSweepSpec extends SparkSpec with CrashSweepHarness {
  import spark.implicits._

  private def facts(rows: Seq[(Long, Long, String, Long, Double)]): DataFrame =
    rows.toDF("order_id", "aver", "aop", "cust_id", "amount")
  private def dims(rows: Seq[(Long, Long, String, String)]): DataFrame =
    rows.toDF("cust_pk", "bver", "bop", "cust_name")

  private def apply(root: String, fa: DataFrame, fb: DataFrame,
      batchId: Long): Unit =
    JoinMv.applyBatch(s"$root/jmv",
      "order_id", "aver", "aop", "cust_id",
      "cust_pk", "bver", "bop",
      nBuckets = 2, innerJoin = false,
      changelogPath = Some(s"$root/cl"))(fa, fb, batchId)

  test("joinmv batch commit survives a crash at every mutation point " +
    "(same-batch replay under concurrent lanes)") {
    val fa0 = facts(Seq((1L, 1L, "ins", 10L, 5.0), (2L, 1L, "ins", 20L, 7.0),
      (3L, 1L, "ins", 10L, 9.0)))
    val fb0 = dims(Seq((10L, 1L, "ins", "alice"), (20L, 1L, "ins", "bob"),
      (30L, 1L, "ins", "carol")))
    // batch 1: fk move (1: 10->20), fact delete (2), new fact (4->30),
    // dim update (10), dim delete (20 — fact 1 just moved onto it), new
    // dim (40, unreferenced)
    val fa1 = facts(Seq((1L, 2L, "upd", 20L, 5.5), (2L, 2L, "delete", 20L, 0.0),
      (4L, 2L, "ins", 30L, 4.0)))
    val fb1 = dims(Seq((10L, 2L, "upd", "alice2"), (20L, 2L, "delete", ""),
      (40L, 2L, "ins", "dave")))

    val expectedMv = Set(
      (1L, 20L, 5.5, None): (Long, Long, Double, Option[String]),
      (3L, 10L, 9.0, Some("alice2")),
      (4L, 30L, 4.0, Some("carol")))
    val expectedLeft = Set((1L, 2L, 20L, 5.5), (3L, 1L, 10L, 9.0),
      (4L, 2L, 30L, 4.0))
    val expectedRight = Set((10L, "alice2"), (30L, "carol"), (40L, "dave"))

    val tpl = Files.createTempDirectory("tpl-joinmv-").toFile
    InstrumentedFs.reset()
    apply(s"ifs://$tpl", fa0, fb0, 0L)

    val swept = sweep("joinmv", tpl,
      attempt = (root, _) => apply(root, fa1, fb1, 1L),
      recover = (root, _) => apply(root, fa1, fb1, 1L), // canonical replay
      invariant = (root, local) => {
        val mv = spark.read.parquet(s"$root/jmv/mv")
          .select($"order_id", $"cust_id", $"amount", $"cust_name")
          .as[(Long, Long, Double, Option[String])].collect().toSet
        assert(mv === expectedMv, "MV diverged after replay")
        val left = spark.read.parquet(s"$root/jmv/left")
          .select($"order_id", $"aver", $"cust_id", $"amount")
          .as[(Long, Long, Long, Double)].collect().toSet
        assert(left === expectedLeft, "left entity table diverged")
        val right = spark.read.parquet(s"$root/jmv/right")
          .select($"cust_pk", $"cust_name").as[(Long, String)].collect().toSet
        assert(right === expectedRight, "right entity table diverged")
        // the (fk, pk) index must mirror the left table EXACTLY — a stale
        // entry silently corrupts every future dim-fanout recompute
        val idx = spark.read.parquet(s"$root/jmv/left_by_fk")
          .select($"__fk", $"__pk").as[(Long, Long)].collect().toSet
        assert(idx === expectedLeft.map(r => (r._3, r._1)),
          "secondary index out of sync with the left table")
        val cl = new java.io.File(local, "cl/batch=1")
        assert(cl.isDirectory && spark.read.parquet(
          s"$root/cl/batch=1").count() > 0,
          "changelog batch directory missing after replay")
        // completed replay leaves no swap debris on any of the 4 tables
        for (t <- Seq("left", "right", "left_by_fk", "mv");
             sfx <- Seq("__old", "__stage")) {
          val d = new java.io.File(local, s"jmv/$t$sfx")
          assert(!d.exists() || names(d).isEmpty,
            s"swap debris $t$sfx left after a completed replay")
        }
      })
    info(s"joinmv commit: $swept crash points swept green")
    assert(swept >= 20, s"suspiciously few crash points ($swept)")
  }

  test("joinmv batch over a subset of buckets survives a crash at every " +
    "mutation point") {
    // the fact delta stays in ONE of four left buckets while a dim change
    // fans out to a fact in another: the MV recompute reads that fact, and
    // the dims of facts the batch did not touch, from disk while the left
    // and right swaps run
    import JoinMvModel.{Dim, Fact}
    val n = 4
    val keys = (1L to 40L).toIndexedSeq
    val bucketOf = keys.toDF("k")
      .select($"k", graft.streaming.BucketedTable.bucketOf(Seq($"k"), n))
      .as[(Long, Int)].collect().toMap
    val fa0: Seq[Fact] = keys.take(12).map(k => (k, 1L, "ins", 10L * (1 + k % 4), k.toDouble))
    val fb0: Seq[Dim] = (1L to 5L).map(d => (10L * d, 1L, "ins", s"n$d"))
    val hot = bucketOf(1L)
    val inHot = keys.filter(bucketOf(_) == hot)
    val (moved, deleted, fresh) = (inHot(0), inHot(1), inHot.find(_ > 12L).get)
    // a dim referenced only from outside the hot bucket
    val fanned = fa0.filter(f => bucketOf(f._1) != hot).map(_._4)
      .find(d => fa0.forall(f => f._4 != d || bucketOf(f._1) != hot)).get
    val fa1: Seq[Fact] = Seq((moved, 2L, "upd", 50L, 1.5), (moved, 3L, "upd", 40L, 2.5),
      (deleted, 2L, "delete", 0L, 0.0), (fresh, 2L, "ins", 60L, 3.0))
    val fb1: Seq[Dim] = Seq((fanned, 2L, "upd", "renamed"),
      (fanned, 3L, "upd", "renamed-again"), (60L, 2L, "ins", "six"))
    assert(fa1.forall(f => bucketOf(f._1) == hot))
    val before = JoinMvModel().applied(fa0, fb0)
    val after = before.applied(fa1, fb1)

    val tpl = Files.createTempDirectory("tpl-joinmv-subset-").toFile
    InstrumentedFs.reset()
    JoinMvModel.apply(s"ifs://$tpl", n, JoinMvModel.factsDf(spark, fa0),
      JoinMvModel.dimsDf(spark, fb0), 0L)
    def batch1(root: String): Unit = JoinMvModel.apply(root, n,
      JoinMvModel.factsDf(spark, fa1), JoinMvModel.dimsDf(spark, fb1), 1L)

    val swept = sweep("joinmv-subset", tpl,
      attempt = (root, _) => batch1(root),
      recover = (root, _) => batch1(root), // canonical replay
      invariant = (root, local) => {
        val got = JoinMvModel.stored(spark, root, 1L)
        assert(got.mv === after.mv, "MV diverged after replay")
        assert(got.left === after.facts, "left entity table diverged")
        assert(got.right === after.dims, "right entity table diverged")
        assert(got.index === after.index,
          "secondary index out of sync with the left table")
        assert(got.changelog === Some(after.changesFrom(before)),
          "changelog batch missing or wrong after replay")
        for (t <- Seq("left", "right", "left_by_fk", "mv");
             sfx <- Seq("__old", "__stage")) {
          val d = new java.io.File(local, s"jmv/$t$sfx")
          assert(!d.exists() || names(d).isEmpty,
            s"swap debris $t$sfx left after a completed replay")
        }
      })
    info(s"joinmv subset commit: $swept crash points swept green")
    assert(swept >= 20, s"suspiciously few crash points ($swept)")
  }
}
