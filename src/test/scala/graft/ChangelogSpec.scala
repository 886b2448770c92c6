package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.{ChangelogOps, UpsertSink}

class ChangelogSpec extends SparkSpec {
  import spark.implicits._

  private def changes(rows: (Long, Long, String, Double)*) =
    rows.toDF("user_id", "version", "op", "value")

  test("txn apply: rolled-back transactions' writes never surface") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"value")
      .as[(Long, java.sql.Timestamp, Long, Double)].collect()
    val byTxn = ev.groupBy(_._1 / 3)
    assert(byTxn.keys.exists(_ % 10 == 0), "the log must contain rollback txns")
    val applied = byTxn.filter { case (t, _) => t % 10 != 0 }
      .toSeq.flatMap { case (_, rows) =>
        val cts = rows.map(_._2).max
        rows.toSeq.map(r => (r._3, r._4, cts, r._1))
      }
    val expected = applied.groupBy(_._1).map { case (u, vs) =>
      u -> vs.maxBy(v => (v._3, v._4))._2
    }
    val got = graft.operators.Changelog.q63TxnApply(spark, sf)
      .select($"user_id", $"value").as[(Long, Double)].collect().toMap
    assert(got === expected)
    // a key written ONLY inside rolled-back txns must be absent entirely
    val rolledOnly = ev.groupBy(_._3).collect {
      case (u, rows) if rows.forall(r => (r._1 / 3) % 10 == 0) => u
    }
    rolledOnly.foreach(u => assert(!got.contains(u)))
  }

  test("latestByKey keeps the highest-version row per key") {
    val df = changes((1, 1, "ins", 10.0), (1, 3, "upd", 12.0), (1, 2, "upd", 11.0),
      (2, 1, "ins", 20.0))
    val got = ChangelogOps.latestByKey(df, Seq("user_id"), "version")
      .select("user_id", "version", "value").as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 3L, 12.0), (2L, 1L, 20.0)))
  }

  test("upsertBatch merges, honors tombstones, and is idempotent on replay") {
    val dir = Files.createTempDirectory("upsert").toString + "/t"
    val b1 = changes((1, 1, "ins", 10.0), (2, 1, "ins", 20.0))
      .withColumn("is_delete", lit(false))
    UpsertSink.upsertBucketed(b1, dir, Seq("user_id"), "version", Some("is_delete"))
    val b2 = changes((1, 2, "upd", 11.0), (3, 1, "ins", 30.0))
      .withColumn("is_delete", $"op" === "del")
      .unionByName(changes((2, 2, "del", 0.0)).withColumn("is_delete", lit(true)))
    UpsertSink.upsertBucketed(b2, dir, Seq("user_id"), "version", Some("is_delete"))
    def state = spark.read.parquet(dir).select("user_id", "version", "value")
      .as[(Long, Long, Double)].collect().toSet
    assert(state === Set((1L, 2L, 11.0), (3L, 1L, 30.0)))
    // replay the same batch (foreachBatch at-least-once delivery) → unchanged
    UpsertSink.upsertBucketed(b2, dir, Seq("user_id"), "version", Some("is_delete"))
    assert(state === Set((1L, 2L, 11.0), (3L, 1L, 30.0)))
  }

  test("out-of-order versions never regress state") {
    val dir = Files.createTempDirectory("upsert2").toString + "/t"
    val b1 = changes((1, 5, "upd", 50.0)).withColumn("is_delete", lit(false))
    UpsertSink.upsertBucketed(b1, dir, Seq("user_id"), "version", Some("is_delete"))
    val late = changes((1, 2, "upd", 20.0)).withColumn("is_delete", lit(false))
    UpsertSink.upsertBucketed(late, dir, Seq("user_id"), "version", Some("is_delete"))
    val got = spark.read.parquet(dir).select("version").as[Long].collect().toSeq
    assert(got === Seq(5L))
  }
}
