package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.JoinMv

/** Incremental equi-join MV over two changelogs: after every micro-batch
  * the MV must equal the batch join of both sides' latest states — under
  * late dims, dim updates fanning out, fk moves, deletes on both sides,
  * and stale replays. */
class JoinMvSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  // one envelope stream carrying both changelogs (the multi-topic feed
  // shape); side "A" = orders fact, "B" = customers dim
  type Env = (String, Long, Long, String, Long, Double, Long, Long, String, String)

  private def split(batch: DataFrame): (DataFrame, DataFrame) = (
    batch.filter($"side" === "A")
      .select($"apk".as("order_id"), $"aver", $"aop",
        $"afk".as("cust_id"), $"amount"),
    batch.filter($"side" === "B")
      .select($"bpk".as("cust_pk"), $"bver", $"bop", $"cust_name"))

  private def a(pk: Long, ver: Long, op: String, fk: Long,
      amt: Double): Env = ("A", pk, ver, op, fk, amt, 0L, 0L, "", "")
  private def b(pk: Long, ver: Long, op: String, name: String): Env =
    ("B", 0L, 0L, "", 0L, 0.0, pk, ver, op, name)

  // in-memory ground truth: latest-per-key maps, left join
  private def expected(
      facts: Map[Long, (Long, Long, Double)], // pk -> (ver, fk, amt)
      dims: Map[Long, String]): Set[(Long, Long, Long, Double, Option[String])] =
    facts.map { case (pk, (ver, fk, amt)) =>
      (pk, ver, fk, amt, dims.get(fk))
    }.toSet

  test("join MV converges under late dims, fanout updates, moves, deletes") {
    val input = MemoryStream[Env]
    val source = input.toDF().toDF("side", "apk", "aver", "aop", "afk",
      "amount", "bpk", "bver", "bop", "cust_name")
    val base = Files.createTempDirectory("jmv").toString
    val cl = s"$base/changelog"

    val q = source.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch((batch: DataFrame, id: Long) => {
        val (fa, fb) = split(batch)
        JoinMv.applyBatch(s"$base/mv",
          "order_id", "aver", "aop", "cust_id",
          "cust_pk", "bver", "bop",
          nBuckets = 4, changelogPath = Some(cl))(fa, fb, id)
      })
      .start()

    def mv: Set[(Long, Long, Long, Double, Option[String])] =
      spark.read.parquet(s"$base/mv/mv")
        .select($"order_id", $"aver", $"cust_id", $"amount", $"cust_name")
        .as[(Long, Long, Long, Double, Option[String])].collect().toSet

    try {
      // batch 1: two facts, one dim — order 2's dim is LATE (null name)
      input.addData(a(1, 1, "ins", 10, 5.0), a(2, 1, "ins", 20, 7.0),
        b(10, 1, "ins", "alice"))
      q.processAllAvailable()
      assert(mv === expected(
        Map(1L -> (1L, 10L, 5.0), 2L -> (1L, 20L, 7.0)),
        Map(10L -> "alice")))

      // batch 2: the late dim arrives (order 2 upgrades via the reverse
      // index — no fact change in this batch), plus a third fact
      input.addData(b(20, 1, "ins", "bob"), a(3, 1, "ins", 10, 9.0))
      q.processAllAvailable()
      assert(mv === expected(
        Map(1L -> (1L, 10L, 5.0), 2L -> (1L, 20L, 7.0), 3L -> (1L, 10L, 9.0)),
        Map(10L -> "alice", 20L -> "bob")))

      // batch 3: dim UPDATE fans out to orders 1 and 3; order 1 MOVES
      // fk 10 -> 20 in the same batch (old index entry must retract)
      input.addData(b(10, 2, "upd", "ALICE"), a(1, 2, "upd", 20, 6.0))
      q.processAllAvailable()
      assert(mv === expected(
        Map(1L -> (2L, 20L, 6.0), 2L -> (1L, 20L, 7.0), 3L -> (1L, 10L, 9.0)),
        Map(10L -> "ALICE", 20L -> "bob")))

      // batch 4: delete order 2; delete dim 20 — order 1 reverts to a
      // null dim (left join keeps the fact)
      input.addData(a(2, 2, "delete", 20, 0.0), b(20, 2, "delete", ""))
      q.processAllAvailable()
      assert(mv === expected(
        Map(1L -> (2L, 20L, 6.0), 3L -> (1L, 10L, 9.0)),
        Map(10L -> "ALICE")))

      // batch 5: stale replays on both sides must be ignored
      input.addData(a(1, 1, "ins", 10, 5.0), b(10, 1, "ins", "alice"))
      q.processAllAvailable()
      assert(mv === expected(
        Map(1L -> (2L, 20L, 6.0), 3L -> (1L, 10L, 9.0)),
        Map(10L -> "ALICE")))

      // the emitted I/U/D changelog replays to the same final state
      val replayed = scala.collection.mutable.Map[Long, (Long, Long, Double, Option[String])]()
      val clDir = new java.io.File(cl)
      val batches = clDir.listFiles().filter(_.getName.startsWith("batch="))
        .sortBy(_.getName.stripPrefix("batch=").toLong)
      batches.foreach { dir =>
        spark.read.parquet(dir.getAbsolutePath)
          .select($"order_id", $"__op", $"__row.aver", $"__row.cust_id",
            $"__row.amount", $"__row.cust_name")
          .as[(Long, String, Option[Long], Option[Long], Option[Double], Option[String])]
          .collect()
          .foreach {
            case (k, "D", _, _, _, _) => replayed.remove(k)
            case (k, _, Some(v), Some(f), Some(m), n) =>
              replayed(k) = (v, f, m, n)
            case other => fail(s"malformed changelog row: $other")
          }
      }
      val replaySet = replayed.map { case (k, (v, f, m, n)) =>
        (k, v, f, m, n) }.toSet
      assert(replaySet === mv)

      // a DOWNSTREAM aggregate maintained from the changelog ALONE — the
      // before/after images make U/D retractable without reading MV state
      val agg = scala.collection.mutable.Map[Option[String], Double]()
        .withDefaultValue(0.0)
      batches.foreach { dir =>
        spark.read.parquet(dir.getAbsolutePath)
          .select($"__old.cust_name", $"__old.amount",
            $"__row.cust_name", $"__row.amount")
          .as[(Option[String], Option[Double], Option[String], Option[Double])]
          .collect()
          .foreach { case (on, oa, nn, na) =>
            oa.foreach(a => agg(on) += -a)
            na.foreach(a => agg(nn) += a)
          }
      }
      val wantAgg = mv.groupBy(_._5).view
        .mapValues(_.toSeq.map(_._4).sum).toMap
      val gotAgg = agg.filter(_._2.abs > 1e-9).toMap
      assert(gotAgg === wantAgg.filter(_._2.abs > 1e-9))
    } finally q.stop()
  }

  test("replaying an applied batch is a no-op (marker guard)") {
    val base = Files.createTempDirectory("jmvr").toString
    val fa = Seq((1L, 1L, "ins", 10L, 5.0))
      .toDF("order_id", "aver", "aop", "cust_id", "amount")
    val fb = Seq((10L, 1L, "ins", "alice"))
      .toDF("cust_pk", "bver", "bop", "cust_name")
    def apply0() = JoinMv.applyBatch(s"$base/mv",
      "order_id", "aver", "aop", "cust_id",
      "cust_pk", "bver", "bop", nBuckets = 4)(fa, fb, 0L)
    apply0()
    val first = spark.read.parquet(s"$base/mv/mv").collect().toSet
    apply0() // replay of a fully-committed batch: early return
    assert(spark.read.parquet(s"$base/mv/mv").collect().toSet === first)
    assert(first.nonEmpty)
  }

  test("a changed bucket count fails loudly instead of corrupting state") {
    val base = Files.createTempDirectory("jmvb").toString
    val fa = Seq((1L, 1L, "ins", 10L, 5.0))
      .toDF("order_id", "aver", "aop", "cust_id", "amount")
    val fb = Seq((10L, 1L, "ins", "alice"))
      .toDF("cust_pk", "bver", "bop", "cust_name")
    JoinMv.applyBatch(s"$base/mv", "order_id", "aver", "aop", "cust_id",
      "cust_pk", "bver", "bop", nBuckets = 4)(fa, fb, 0L)
    val e = intercept[IllegalStateException] {
      JoinMv.applyBatch(s"$base/mv", "order_id", "aver", "aop", "cust_id",
        "cust_pk", "bver", "bop", nBuckets = 8)(fa, fb, 1L)
    }
    assert(e.getMessage.contains("nBuckets"))
  }

  test("a dangling index entry (lost index swap) never yields a wrong row") {
    // the documented benign residual: a crash between the left-entity
    // swap and the index swap can leave a moved fact's OLD-fk index entry
    // behind. Plant exactly that state and drive an update to the old dim
    // key — the spurious affected fact must recompute to its CURRENT
    // (correct) row, never resurrect the old join.
    val base = Files.createTempDirectory("jmvd").toString
    def apply0(fa: DataFrame, fb: DataFrame, id: Long) =
      JoinMv.applyBatch(s"$base/mv",
        "order_id", "aver", "aop", "cust_id",
        "cust_pk", "bver", "bop", nBuckets = 4)(fa, fb, id)
    val emptyB = Seq.empty[(Long, Long, String, String)]
      .toDF("cust_pk", "bver", "bop", "cust_name")
    apply0(
      Seq((1L, 1L, "ins", 10L, 5.0))
        .toDF("order_id", "aver", "aop", "cust_id", "amount"),
      Seq((10L, 1L, "ins", "alice"), (20L, 1L, "ins", "bob"))
        .toDF("cust_pk", "bver", "bop", "cust_name"), 0L)
    // fact 1 moves 10 -> 20 (the normal path retracts (10, 1) correctly)
    apply0(
      Seq((1L, 2L, "upd", 20L, 6.0))
        .toDF("order_id", "aver", "aop", "cust_id", "amount"), emptyB, 1L)
    // plant the dangling old-fk entry the lost index swap would leave
    import graft.streaming.BucketedTable
    val idxPath = s"$base/mv/left_by_fk"
    val planted = spark.read.parquet(idxPath)
      .unionByName(Seq((10L, 1L)).toDF("__fk", "__pk")
        .withColumn(BucketedTable.BucketCol,
          BucketedTable.bucketOf(Seq($"__fk"), 4)))
    BucketedTable.swapTouched(planted, idxPath,
      planted.select(BucketedTable.BucketCol).distinct().as[Int].collect().toSeq)
    // update the OLD dim key: fact 1 is listed as affected via the
    // dangling entry — the recompute must read its CURRENT row (fk=20)
    apply0(Seq.empty[(Long, Long, String, Long, Double)]
        .toDF("order_id", "aver", "aop", "cust_id", "amount"),
      Seq((10L, 2L, "upd", "ALICE"))
        .toDF("cust_pk", "bver", "bop", "cust_name"), 2L)
    val got = spark.read.parquet(s"$base/mv/mv")
      .select($"order_id", $"cust_id", $"cust_name")
      .as[(Long, Long, String)].collect().toSet
    assert(got === Set((1L, 20L, "bob")))
  }

  test("inner-join mode drops unmatched facts instead of null-padding") {
    val base = Files.createTempDirectory("jmvi").toString
    val fa = Seq((1L, 1L, "ins", 10L, 5.0), (2L, 1L, "ins", 99L, 7.0))
      .toDF("order_id", "aver", "aop", "cust_id", "amount")
    val fb = Seq((10L, 1L, "ins", "alice"))
      .toDF("cust_pk", "bver", "bop", "cust_name")
    JoinMv.applyBatch(s"$base/mv",
      "order_id", "aver", "aop", "cust_id",
      "cust_pk", "bver", "bop", nBuckets = 4, innerJoin = true)(fa, fb, 0L)
    val got = spark.read.parquet(s"$base/mv/mv")
      .select($"order_id", $"cust_name").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "alice")))
  }

  test("inParallel awaits BOTH lanes on failure and cleans the survivor") {
    // a fail-fast await would surface lane A's failure while lane B is
    // still mid-write — the replay contract forbids that orphan writer
    val bDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cleaned = new java.util.concurrent.atomic.AtomicReference[String]()
    val ex = intercept[IllegalStateException] {
      JoinMv.inParallel[Unit, String](
        { Thread.sleep(50); throw new IllegalStateException("lane A died") },
        { Thread.sleep(400); bDone.set(true); "b-result" },
        cleanupB = (v: String) => cleaned.set(v))
    }
    assert(ex.getMessage === "lane A died")
    assert(bDone.get(), "the surviving lane must have COMPLETED before " +
      "the failure surfaced — no orphan writer may outlive the call")
    assert(cleaned.get() === "b-result",
      "the survivor's unreturned result must be handed to its cleanup")

    // both lanes failing: first failure thrown, second attached
    val ex2 = intercept[IllegalStateException] {
      JoinMv.inParallel[Unit, Unit](
        throw new IllegalStateException("first"),
        { Thread.sleep(50); throw new IllegalArgumentException("second") })
    }
    assert(ex2.getMessage === "first")
    assert(ex2.getSuppressed.exists(_.getMessage == "second"))
  }
}
