package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{SnapshotStore, TemporalLookup}

/** Streaming temporal dim join: each micro-batch resolves against ONE
  * pinned dim epoch; dim upgrades take effect only at batch boundaries. */
class TemporalLookupSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("each batch joins one pinned dim version; upgrades land at batch edges") {
    val base = Files.createTempDirectory("tlk").toString
    val store = s"$base/dim"
    SnapshotStore.publish(spark, store, 1L)(() =>
      Seq((1L, "bronze"), (2L, "silver")).toDF("user_id", "tier"))

    val input = MemoryStream[(Long, Long)]
    val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Option[String], Long)]
    val q = input.toDF().toDF("click_id", "user_id").writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(TemporalLookup.enrich(store, Seq("user_id")) { (df, _) =>
        out.synchronized {
          out ++= df.select($"click_id", $"user_id", $"tier", $"dim_version")
            .as[(Long, Long, Option[String], Long)].collect()
        }
      } _)
      .start()
    try {
      input.addData((10L, 1L), (11L, 2L), (12L, 3L))
      q.processAllAvailable()
      val b1 = out.toList
      assert(b1.map(_._4).distinct === List(1L), "whole batch pinned to v1")
      assert(b1.collect { case (10L, _, t, _) => t }.head === Some("bronze"))
      assert(b1.collect { case (12L, _, t, _) => t }.head === None,
        "unknown key keeps left-join semantics")

      // dim upgrade between batches: user 1 promoted, user 3 appears
      SnapshotStore.publish(spark, store, 2L)(() =>
        Seq((1L, "gold"), (2L, "silver"), (3L, "bronze")).toDF("user_id", "tier"))
      out.clear()
      input.addData((13L, 1L), (14L, 3L))
      q.processAllAvailable()
      val b2 = out.toList
      assert(b2.map(_._4).distinct === List(2L), "next batch pinned to v2")
      assert(b2.collect { case (13L, _, t, _) => t }.head === Some("gold"))
      assert(b2.collect { case (14L, _, t, _) => t }.head === Some("bronze"))
    } finally q.stop()
  }

  test("a stream against an unpublished dim fails loudly, not silently empty") {
    val base = Files.createTempDirectory("tlk2").toString
    val batch = Seq((1L, 2L)).toDF("click_id", "user_id")
    val e = intercept[IllegalStateException] {
      TemporalLookup.enrich(s"$base/nothing", Seq("user_id"))((_, _) => ())(batch, 0L)
    }
    assert(e.getMessage.contains("no committed dim snapshot"))
  }
}
