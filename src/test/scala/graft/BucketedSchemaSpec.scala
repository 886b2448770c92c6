package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.streaming.{BucketedTable, JoinMv, UpsertSink}

/** The bucketed tables' schema contract: the first swap pins the table's
  * schema in a sidecar, reads use it instead of parquet schema inference
  * (no Spark job), and a batch whose columns drift from it fails loudly
  * with every file of the table left as it was. */
class BucketedSchemaSpec extends SparkSpec {
  import spark.implicits._

  /** relative path -> md5 of every file under dir, sidecars included. */
  private def tree(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      root.relativize(p).toString -> MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap
  }

  private def assertLoudAndUnchanged(dir: String)(body: => Unit): Unit = {
    val before = tree(dir)
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.contains("schema drift"), e.getMessage)
    assert(tree(dir) === before, "a drifted batch changed the table")
  }

  private def upsert(b: DataFrame, path: String): Unit =
    UpsertSink.upsertBucketed(b, path, Seq("k"), "version", Some("is_delete"), 4)

  test("the first swap pins the schema; reads under it run no inference job") {
    val path = Files.createTempDirectory("pin").toString + "/t"
    upsert(Seq((1L, 1L, 10.0, false), (2L, 1L, 20.0, false))
      .toDF("k", "version", "value", "is_delete"), path)
    val pinned = BucketedTable.pinnedSchema(spark, path)
    assert(pinned.map(_.fieldNames.toSeq) ===
      Some(Seq("k", "version", "value", "is_delete", BucketedTable.BucketCol)))

    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val read = BucketedTable.readTouched(spark, path, Seq(0, 1, 2, 3)).get
      ListenerDrain(spark.sparkContext)
      assert(jobs.get === 0, "readTouched ran a job before any action")
      assert(read.schema.fieldNames.toSeq === pinned.get.fieldNames.toSeq)
      assert(read.select("k", "value").as[(Long, Double)].collect().toSet ===
        Set((1L, 10.0), (2L, 20.0)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a table written before schemas were pinned reads by inference and " +
    "is pinned by its next swap") {
    val path = Files.createTempDirectory("legacy").toString + "/t"
    upsert(Seq((1L, 1L, 10.0, false)).toDF("k", "version", "value", "is_delete"), path)
    Files.delete(Paths.get(path, BucketedTable.SchemaFile))
    upsert(Seq((2L, 1L, 20.0, false)).toDF("k", "version", "value", "is_delete"), path)
    assert(BucketedTable.pinnedSchema(spark, path).nonEmpty)
    assert(spark.read.parquet(path).select("k", "value").as[(Long, Double)]
      .collect().toSet === Set((1L, 10.0), (2L, 20.0)))
  }

  test("a bucketed upsert with an added or retyped column fails loudly and " +
    "leaves the table unchanged") {
    val path = Files.createTempDirectory("drift").toString + "/t"
    upsert(Seq((1L, 1L, 10.0, false), (2L, 1L, 20.0, false))
      .toDF("k", "version", "value", "is_delete"), path)
    assertLoudAndUnchanged(path) {
      upsert(Seq((1L, 2L, 11.0, false, "x"))
        .toDF("k", "version", "value", "is_delete", "extra"), path)
    }
    assertLoudAndUnchanged(path) {
      upsert(Seq((1L, 2L, "11", false))
        .toDF("k", "version", "value", "is_delete"), path)
    }
    // a frame swapped in directly is held to the same contract
    assertLoudAndUnchanged(path) {
      val df = Seq((3L, 1L, 30L, false)).toDF("k", "version", "value", "is_delete")
        .withColumn(BucketedTable.BucketCol, BucketedTable.bucketOf(Seq($"k"), 4))
      BucketedTable.swapTouched(df, path,
        df.select(BucketedTable.BucketCol).distinct().as[Int].collect().toSeq)
    }
    assert(spark.read.parquet(path).select("k", "value").as[(Long, Double)]
      .collect().toSet === Set((1L, 10.0), (2L, 20.0)))
  }

  test("a JoinMv batch with an added or retyped column fails loudly and " +
    "leaves all four tables unchanged") {
    val base = Files.createTempDirectory("jdrift").toString
    def apply(fa: DataFrame, fb: DataFrame, id: Long): Unit =
      JoinMv.applyBatch(base, "a_id", "a_ver", "a_op", "fk",
        "b_id", "b_ver", "b_op", nBuckets = 4)(fa, fb, id)
    apply(Seq((1L, 1L, "ins", 10L, 5.0), (2L, 1L, "ins", 20L, 7.0))
        .toDF("a_id", "a_ver", "a_op", "fk", "a_val"),
      Seq((10L, 1L, "ins", "alice"), (20L, 1L, "ins", "bob"))
        .toDF("b_id", "b_ver", "b_op", "b_name"), 0L)
    val goodA = Seq((1L, 2L, "upd", 20L, 6.0))
      .toDF("a_id", "a_ver", "a_op", "fk", "a_val")
    val goodB = Seq((10L, 2L, "upd", "alice2"))
      .toDF("b_id", "b_ver", "b_op", "b_name")
    // drift on one side only: the other side's chain must not commit either
    assertLoudAndUnchanged(base) {
      apply(Seq((1L, 2L, "upd", 20L, 6.0, "x"))
        .toDF("a_id", "a_ver", "a_op", "fk", "a_val", "a_extra"), goodB, 1L)
    }
    assertLoudAndUnchanged(base) {
      apply(goodA, Seq((10L, 2L, "upd", 42L))
        .toDF("b_id", "b_ver", "b_op", "b_name"), 1L)
    }
    apply(goodA, goodB, 1L)
    assert(spark.read.parquet(s"$base/mv").select("a_id", "fk", "b_name")
      .as[(Long, Long, String)].collect().toSet ===
      Set((1L, 20L, "bob"), (2L, 20L, "bob")))
  }
}
