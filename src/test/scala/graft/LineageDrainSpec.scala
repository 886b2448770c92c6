package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Rank

/** The block-accounting contract behind the localCheckpoint posture:
  * `Materialized.release()` really frees local-checkpoint blocks (the
  * streaming sinks hold O(1) blocks across batches, not one set per
  * batch), and the leaks that operators MUST return (lazy plans over a
  * Rank skeleton) register in Lineage's per-session registry and drain
  * between queries — the long-lived-session cure for what Bench does
  * with unpersist-all between timed queries. */
class LineageDrainSpec extends SparkSpec {
  import spark.implicits._

  /** Earlier suites legitimately leave leaked truncations behind (they
    * consume operator results and move on); start each test from an
    * empty storage pool so the counts below are exact. */
  private def resetBlocks(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    Lineage.drainLeaked(spark)
    ()
  }

  test("release() frees the localCheckpoint blocks, idempotently") {
    resetBlocks()
    assert(Lineage.leakedCount(spark) == 0)
    val m = Lineage.truncate(spark.range(1000).toDF("id"))
    assert(m.df.count() == 1000)
    assert(Lineage.leakedCount(spark) == 1)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    m.release()
    m.release() // idempotent
    assert(Lineage.leakedCount(spark) == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "released truncation still holds blocks")
  }

  test("Rank skeleton registers its leaks; drainLeaked frees them; the " +
      "session stays fully usable after the barrier") {
    resetBlocks()
    def run(): Seq[(Long, Long)] = {
      val df = spark.range(200).toDF("id").withColumn("g", col("id") % 3)
      Rank.groupRowNumberAndTotal(df, Seq("g"), Seq(col("id")))
        .filter(col("rn") === 1).orderBy(col("g"))
        .select(col("id"), col("n")).as[(Long, Long)].collect().toSeq
    }
    val r1 = run()
    // the skeleton truncates the ranged frame AND the weight table
    assert(Lineage.leakedCount(spark) >= 2)
    assert(Lineage.drainLeaked(spark) >= 2)
    assert(Lineage.leakedCount(spark) == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "drainLeaked left checkpoint blocks behind")
    assert(run() == r1, "a fresh query after the drain barrier must work")
  }

  test("durable posture: a Rank skeleton's spill directories register and " +
      "drainLeaked deletes them") {
    resetBlocks()
    withDurableLineage { ckpt =>
      def spills(): Long = java.nio.file.Files.walk(ckpt)
        .filter(_.getFileName.toString.startsWith("graft-spill-")).count()
      val df = spark.range(200).toDF("id").withColumn("g", col("id") % 3)
      val got = Rank.groupRowNumberAndTotal(df, Seq("g"), Seq(col("id")))
        .filter(col("rn") === 1).orderBy(col("g"))
        .select(col("id"), col("n")).as[(Long, Long)].collect().toSeq
      assert(got === Seq((0L, 67L), (1L, 67L), (2L, 66L)))
      // the returned plan reads the skeleton's spills, so nothing in the
      // operator could release them
      assert(spills() >= 2)
      assert(Lineage.leakedCount(spark) === spills())
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        "the durable posture must not take localCheckpoint blocks")
      assert(Lineage.drainLeaked(spark) >= 2)
      assert(spills() === 0L, "drainLeaked left spill directories behind")
      assert(Lineage.leakedCount(spark) === 0)
    }
  }

  test("long-lived session: a query/drain loop accumulates nothing") {
    resetBlocks()
    (1 to 8).foreach { i =>
      val df = spark.range(100L * i).toDF("id").withColumn("g", col("id") % 5)
      Rank.groupPrefixSum(df, Seq("g"), Seq(col("id")), col("id"), "ps")
        .agg(sum(col("ps"))).collect()
      assert(Lineage.leakedCount(spark) > 0,
        s"query $i: the skeleton's truncations should register as leaked")
      Lineage.drainLeaked(spark)
      assert(Lineage.leakedCount(spark) == 0)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"query $i: blocks accumulated across the loop")
    }
  }

  test("bucketed upsert releases its per-batch truncation: a long-running " +
      "stream holds no blocks between batches") {
    resetBlocks()
    val dir = Files.createTempDirectory("lineage-upsert").toString
    (1 to 3).foreach { b =>
      val batch = spark.range(50).toDF("k")
        .withColumn("value", col("k") * b)
        .withColumn("version", lit(b.toLong))
      streaming.UpsertSink.upsertBucketed(
        batch, dir, Seq("k"), "version", nBuckets = 4)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"batch $b left its checkpoint blocks behind")
      assert(Lineage.leakedCount(spark) == 0)
    }
    val state = spark.read.parquet(dir)
    assert(state.count() == 50)
    // latest version wins everywhere
    assert(state.filter(col("value") =!= col("k") * 3).isEmpty)
  }

  test("a released truncation's storage level is NONE (blocks gone, not " +
      "merely eligible for async cleaning)") {
    resetBlocks()
    val m = Lineage.truncate(spark.range(10).toDF("id"))
    m.df.count()
    val rdd = spark.sparkContext.getPersistentRDDs.values.headOption
    assert(rdd.nonEmpty)
    m.release()
    assert(rdd.get.getStorageLevel == StorageLevel.NONE)
  }
}
