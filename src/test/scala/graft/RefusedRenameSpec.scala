package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.streaming.UpsertSink

/** A rename the file system refuses (returns false) stops a publish with
  * the previous snapshot intact and readable — never a nested directory,
  * never a deleted snapshot — and the next upsert then succeeds. Driven
  * through [[InstrumentedFs.refuseRename]]. */
class RefusedRenameSpec extends SparkSpec {
  import spark.implicits._

  InstrumentedFs.configure(spark.sparkContext.hadoopConfiguration)

  private val Keys = Seq("k")

  private def batch(rows: (Long, Long, Double)*) =
    rows.map { case (k, v, x) => (k, v, x, false) }.toDF("k", "version", "value", "is_delete")

  /** relative path -> md5 of every file under `dir`. */
  private def files(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      root.relativize(p).toString -> MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap
    finally walk.close()
  }

  private def state(dir: String): Set[(Long, Long, Double)] =
    spark.read.parquet(dir).select("k", "version", "value")
      .as[(Long, Long, Double)].collect().toSet

  private def fresh(prefix: String): (String, String) = {
    InstrumentedFs.reset()
    val local = Files.createTempDirectory(prefix).toString
    (s"ifs://$local", local)
  }

  private val first = Set((1L, 1L, 10.0), (2L, 1L, 20.0))
  private val merged = Set((1L, 2L, 11.0), (2L, 1L, 20.0), (3L, 1L, 30.0))
  private def b1 = batch((1L, 1L, 10.0), (2L, 1L, 20.0))
  private def b2 = batch((1L, 2L, 11.0), (3L, 1L, 30.0))

  test("swapTouched: a refused bucket rename-out fails before the rename-in") {
    // one bucket, so the batch touches exactly that bucket: a refused
    // rename-out of the live bucket, then a refused rename-in of the staged
    // one (the displaced bucket is moved back)
    for (refused <- Seq("live/__bucket=0", "live__stage/__bucket=0")) {
      val (root, local) = fresh("refuse-bucket")
      UpsertSink.upsertBucketed(b1, s"$root/live", Keys, "version", nBuckets = 1)
      assert(new java.io.File(s"$local/live").list()
        .filter(_.startsWith("__bucket=")).toSeq === Seq("__bucket=0"))
      val before = files(s"$local/live")
      InstrumentedFs.refuseRename(refused)
      intercept[IllegalStateException](
        UpsertSink.upsertBucketed(b2, s"$root/live", Keys, "version", nBuckets = 1))
      assert(InstrumentedFs.pendingHooks === 0, s"the refusal of $refused never fired")
      assert(files(s"$local/live") === before, s"after refusing $refused")
      assert(state(s"$local/live") === first)
      UpsertSink.upsertBucketed(b2, s"$root/live", Keys, "version", nBuckets = 1)
      assert(state(s"$local/live") === merged)
    }
  }
}
