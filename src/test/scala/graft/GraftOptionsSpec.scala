package graft

import java.nio.file.Files

/** The TiFlinkOptions analog: one validated config object; malformed or
  * unknown options fail loudly at parse/build time, valid ones reach the
  * MV builder, and builder defaults are untouched when no options are set. */
class GraftOptionsSpec extends SparkSpec {
  import spark.implicits._

  test("fromMap: defaults, parsing, and range checks") {
    assert(GraftOptions.fromMap(Map.empty) === GraftOptions())
    val o = GraftOptions.fromMap(Map(
      GraftOptions.TriggerMs -> "500",
      GraftOptions.Buckets -> "8",
      GraftOptions.WatermarkColumn -> "ts",
      GraftOptions.WatermarkDelay -> "10 minutes",
      GraftOptions.DropIfExists -> "true"))
    assert(o === GraftOptions(500L, 8, Some(("ts", "10 minutes")), true))
  }

  test("every malformed option names its key and fails loudly") {
    def bad(kv: (String, String)*): String =
      intercept[IllegalArgumentException](GraftOptions.fromMap(kv.toMap)).getMessage
    assert(bad("graft.bukets" -> "8").contains("unknown graft option"))
    assert(bad(GraftOptions.Buckets -> "eight").contains(GraftOptions.Buckets))
    assert(bad(GraftOptions.Buckets -> "0").contains(">= 1"))
    assert(bad(GraftOptions.TriggerMs -> "-5").contains(">= 0"))
    assert(bad(GraftOptions.DropIfExists -> "yes").contains("not a boolean"))
    assert(bad(GraftOptions.WatermarkColumn -> "ts")
      .contains("must be set together"))
    assert(bad(GraftOptions.WatermarkColumn -> "ts",
      GraftOptions.WatermarkDelay -> "sideways").contains("cannot parse"))
    assert(bad(GraftOptions.WatermarkColumn -> "ts",
      GraftOptions.WatermarkDelay -> "-3 minutes").contains("non-negative"))
  }

  test("the lease and retention keys are gone: setting either fails as unknown") {
    // no code reads a lease or retention option: setting one must fail
    // loudly, not run silently on the defaults
    for (key <- Seq("graft.lock.lease.ms", "graft.snapshot.keep")) {
      val e = intercept[IllegalArgumentException](
        GraftOptions.fromMap(Map(key -> "10")))
      assert(e.getMessage.contains("unknown graft option") &&
        e.getMessage.contains(key), e.getMessage)
    }
  }

  test("options drive the MV builder: trigger, buckets, watermark applied") {
    implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val base = Files.createTempDirectory("gopts").toString
    val q = graft.streaming.MaterializedView.newBuilder()
      .setSource(input.toDF().toDF("k", "ver", "ts", "v"))
      .setOptions(Map(
        GraftOptions.Buckets -> "4",
        GraftOptions.WatermarkColumn -> "ts",
        GraftOptions.WatermarkDelay -> "10 seconds"))
      .setQuery(df => df.groupBy($"k")
        .agg(org.apache.spark.sql.functions.max($"ver").as("ver"),
          org.apache.spark.sql.functions.sum($"v").as("total")))
      .setTargetPath(s"$base/mv")
      .setVersionColumn("ver")
      .setCheckpointLocation(s"$base/ckpt")
      .build()
    // the watermark option must land on the source: visible in the analyzed plan
    assert(q.view.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "watermark option did not reach the plan")
    val sq = q.start()
    try {
      input.addData((1L, 1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), 2.0))
      sq.processAllAvailable()
      val buckets = new java.io.File(s"$base/mv").listFiles
        .map(_.getName).filter(_.startsWith("__bucket"))
      assert(buckets.nonEmpty, "bucketed target expected")
      val got = spark.read.parquet(s"$base/mv")
        .select("k", "total").as[(Long, Double)].collect().toSeq
      assert(got === Seq((1L, 2.0)))
    } finally sq.stop()
  }

  test("a typo'd option key fails at build wiring, not at stream runtime") {
    intercept[IllegalArgumentException] {
      graft.streaming.MaterializedView.newBuilder()
        .setOptions(Map("graft.trigger.millis" -> "100"))
    }
  }
}
