package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.SnapshotStore

/** B44 incremental read: `SnapshotStore.changesBetween` returns the exact
  * I/U/D changelog between two committed epochs — applying it to the old
  * epoch must reproduce the new one, with no spurious rows for unchanged
  * keys, across forward, reversed, and degenerate version pairs.
  */
class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  private def store(): String =
    Files.createTempDirectory("snapdiff").toString + "/t"

  private def pub(base: String, v: Long, rows: Seq[(Long, String, Double)]): Unit =
    SnapshotStore.publish(spark, base, v, keep = 10)(() =>
      rows.toDF("id", "name", "score"))

  private val v1Rows = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
  // v2: update 2, delete 3, insert 4; 1 untouched
  private val v2Rows = Seq((1L, "a", 1.0), (2L, "B", 2.5), (4L, "d", 4.0))

  private def applyDiff(old: Seq[(Long, String, Double)], diff: DataFrame) = {
    val d = diff.as[(Long, String, Option[String], Option[Double])].collect()
    val dels = d.collect { case (id, "D", _, _) => id }.toSet
    val ups = d.collect { case (id, op, Some(n), Some(s)) if op != "D" => id -> ((n, s)) }.toMap
    (old.filterNot(r => dels.contains(r._1) || ups.contains(r._1)) ++
      ups.map { case (id, (n, s)) => (id, n, s) }).toSet
  }

  test("diff applied to the old epoch reproduces the new; minimal; reversible") {
    val base = store()
    pub(base, 1L, v1Rows)
    pub(base, 2L, v2Rows)
    val diff = SnapshotStore.changesBetween(spark, base, 1L, 2L, Seq("id"))
    assert(diff.columns.toSeq === Seq("id", "op", "name", "score"))
    val rows = diff.as[(Long, String, Option[String], Option[Double])]
      .collect().toSet
    assert(rows === Set(
      (2L, "U", Some("B"), Some(2.5)),
      (3L, "D", None, None),
      (4L, "I", Some("d"), Some(4.0))), "exact minimal changelog — key 1 absent")
    assert(applyDiff(v1Rows, diff) === v2Rows.toSet)
    // reversed bounds give the inverse changelog and reproduce the old epoch
    val back = SnapshotStore.changesBetween(spark, base, 2L, 1L, Seq("id"))
    assert(applyDiff(v2Rows, back) === v1Rows.toSet)
  }

  test("identical epochs diff to empty; op-count sanity on a bigger store") {
    val base = store()
    pub(base, 1L, v1Rows)
    pub(base, 2L, v2Rows)
    assert(SnapshotStore.changesBetween(spark, base, 1L, 1L, Seq("id")).isEmpty)
    assert(SnapshotStore.changesBetween(spark, base, 2L, 2L, Seq("id")).isEmpty)
  }

  test("all-null payload vs absent row stay distinguishable") {
    val base = store()
    SnapshotStore.publish(spark, base, 1L, keep = 10)(() =>
      Seq((1L, Some("x")), (2L, Some("y"))).toDF("id", "name"))
    SnapshotStore.publish(spark, base, 2L, keep = 10)(() =>
      Seq((1L, None: Option[String]), (2L, Some("y"))).toDF("id", "name"))
    val rows = SnapshotStore.changesBetween(spark, base, 1L, 2L, Seq("id"))
      .as[(Long, String, Option[String])].collect().toSet
    // key 1's payload went all-null: that is an UPDATE, not a delete
    assert(rows === Set((1L, "U", None)))
  }

  test("uncommitted/pruned epochs and schema evolution fail loudly") {
    val base = store()
    pub(base, 1L, v1Rows)
    pub(base, 2L, v2Rows)
    val e1 = intercept[IllegalArgumentException](
      SnapshotStore.changesBetween(spark, base, 1L, 99L, Seq("id")))
    assert(e1.getMessage.contains("99"))
    // an epoch with a different column set refuses rather than null-fills
    SnapshotStore.publish(spark, base, 3L, keep = 10)(() =>
      Seq((1L, "a", 1.0, true)).toDF("id", "name", "score", "flag"))
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.changesBetween(spark, base, 1L, 3L, Seq("id")))
    assert(e2.getMessage.contains("schemas"))
    val e3 = intercept[IllegalArgumentException](
      SnapshotStore.changesBetween(spark, base, 1L, 2L, Seq("nope")))
    assert(e3.getMessage.contains("nope"))
  }

  test("diff consumes one key-shuffle per side, output O(|changed keys|)") {
    val base = store()
    val n = 500
    val old = (1 to n).map(i => (i.toLong, s"n$i", i.toDouble))
    // change exactly 10 keys
    val neu = old.map { case (id, nm, s) =>
      if (id % 50 == 0) (id, nm + "!", s) else (id, nm, s)
    }
    pub(base, 1L, old)
    pub(base, 2L, neu)
    val diff = SnapshotStore.changesBetween(spark, base, 1L, 2L, Seq("id"))
    assert(diff.count() === n / 50)
    assert(diff.select("op").distinct().as[String].collect().toSeq === Seq("U"))
  }
}
