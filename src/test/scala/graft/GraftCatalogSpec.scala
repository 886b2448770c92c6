package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{count, lit, sum}

import graft.streaming.SnapshotStore

/** SQL-native addressing over snapshot stores: `graft.<ns>.<table>`
  * resolves to the committed epoch, `VERSION AS OF` / the `version` read
  * option pin past epochs, and writes through SQL are refused. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = {
    val dir = Files.createTempDirectory("graftsql").toString
    // catalog wiring is plain session conf — no DDL, no registry edits
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.path", dir)
    spark.conf.set("spark.sql.catalog.graft.dataPath", sf)
    dir
  }

  /** Fresh store per test (epochs are monotone per store). */
  private def publishMv(ns: String): Unit = {
    SnapshotStore.publish(spark, s"$root/$ns/mv", version = 1L)(() =>
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "grp", "v"))
    SnapshotStore.publish(spark, s"$root/$ns/mv", version = 2L)(() =>
      Seq((1L, "a", 11.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "grp", "v"))
  }

  test("SELECT from graft.<ns>.<table> reads the committed epoch") {
    publishMv("s1")
    val got = spark.sql(s"SELECT id, v FROM graft.s1.mv ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)))
    // epoch resolution is per-scan: a new publish is visible to the NEXT query
    SnapshotStore.publish(spark, s"$root/s1/mv", 3L)(() =>
      Seq((1L, "a", 12.0)).toDF("id", "grp", "v"))
    assert(spark.sql("SELECT count(*) AS c FROM graft.s1.mv")
      .as[Long].head() === 1L)
  }

  test("VERSION AS OF and the version read option pin a past epoch") {
    publishMv("s2")
    val pinned = spark.sql("SELECT id, v FROM graft.s2.mv VERSION AS OF 1 ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(pinned === Seq((1L, 10.0), (2L, 20.0)))
    val opt = spark.read.option("version", "1").table("graft.s2.mv")
      .selectExpr("id", "v").as[(Long, Double)].collect().toSeq.sorted
    assert(opt === Seq((1L, 10.0), (2L, 20.0)))
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft.s2.mv VERSION AS OF 99").collect())
    assert(e.getMessage.contains("no committed epoch"))
  }

  test("filters and pruning reach the parquet scan through the catalog") {
    publishMv("s3")
    val q = spark.sql("SELECT v FROM graft.s3.mv WHERE id = 2")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"),
      s"expected pushed filter on id in:\n$plan")
    assert(q.as[Double].collect().toSeq === Seq(20.0))
  }

  test("catalog lists namespaces and tables from the live directory tree") {
    publishMv("s4")
    SnapshotStore.publish(spark, s"$root/s4/other", 1L)(() =>
      Seq((1L, 1L)).toDF("k", "ver"))
    val tables = spark.sql("SHOW TABLES IN graft.s4").select("tableName")
      .as[String].collect().toSet
    assert(tables === Set("mv", "other"))
    val ns = spark.sql("SHOW NAMESPACES IN graft").select("namespace")
      .as[String].collect().toSet
    assert(ns.contains("s4"))
  }

  test("schema evolution: analysis-time pins keep the old schema, scan-option pins refuse") {
    publishMv("s6")
    // epoch 3 ADDS a column
    SnapshotStore.publish(spark, s"$root/s6/mv", 3L)(() =>
      Seq((1L, "a", 12.0, true)).toDF("id", "grp", "v", "flag"))
    // VERSION AS OF pins at load → the query is ANALYZED with the old schema
    val asOf = spark.sql("SELECT * FROM graft.s6.mv VERSION AS OF 1")
    assert(asOf.schema.fieldNames.toSeq === Seq("id", "grp", "v"))
    assert(asOf.count() === 2L)
    // the standard versionAsOf read option routes through the same
    // time-travel load — schema-safe without SQL
    val opt = spark.read.option("versionAsOf", "1").table("graft.s6.mv")
    assert(opt.schema.fieldNames.toSeq === Seq("id", "grp", "v"))
    assert(opt.count() === 2L)
    // the raw `version` SCAN option cannot rewrite the analyzed schema:
    // it must refuse loudly, never null-fill the column epoch 1 lacks
    val e = intercept[Exception](
      spark.read.option("version", "1").table("graft.s6.mv").collect())
    assert(e.getMessage.contains("analyzed"), e.getMessage)
    // a scan-option pin whose epoch schema MATCHES the analyzed one passes
    val ok = spark.read.option("version", "3").table("graft.s6.mv")
    assert(ok.count() === 1L)
  }

  test("data namespace serves the raw dataset dir; joins to a store MV in one statement") {
    publishMv("s7")
    // discovery is live, straight off the dataset directory
    val tables = spark.sql("SHOW TABLES IN graft.data").select("tableName")
      .as[String].collect().toSet
    assert(tables === graft.sources.Tables.discover(spark, sf).toSet)
    assert(spark.sql("SHOW NAMESPACES IN graft").select("namespace")
      .as[String].collect().toSet.contains("data"))
    // raw table + raw table + snapshot-store MV, one SQL statement
    val got = spark.sql(
      """SELECT n.n_name, count(*) AS cnt, sum(m.v) AS mv_v
        |FROM graft.data.customer c
        |JOIN graft.data.nation n ON c.c_nationkey = n.n_nationkey
        |JOIN graft.s7.mv m ON m.id = c.c_custkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
      .as[(String, Long, Double)].collect().toSeq
    val expect = graft.sources.Tables.customer(spark, sf)
      .join(graft.sources.Tables.nation(spark, sf),
        $"c_nationkey" === $"n_nationkey")
      .join(spark.read.parquet(s"$root/s7/mv/_v=2").select($"id", $"v"),
        $"id" === $"c_custkey")
      .groupBy($"n_name").agg(count(lit(1)), sum($"v"))
      .orderBy($"n_name").as[(String, Long, Double)].collect().toSeq
    assert(got === expect)
    assert(got.nonEmpty)
    // pushdown reaches the parquet scan through the data namespace
    val plan = spark.sql(
      "SELECT c_name FROM graft.data.customer WHERE c_custkey = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("c_custkey"), plan)
    // raw tables have no epochs
    val tt = intercept[Exception](
      spark.sql("SELECT * FROM graft.data.customer VERSION AS OF 1").collect())
    assert(tt.getMessage.contains("no epochs"), tt.getMessage)
  }

  test("SQL DDL is refused: table lifecycle belongs to the publish path") {
    publishMv("s5")
    val e = intercept[Exception](
      spark.sql("CREATE TABLE graft.s5.nope (id BIGINT) USING parquet"))
    assert(e.getMessage.toLowerCase.contains("read-only"))
    val d = intercept[Exception](spark.sql("DROP TABLE graft.s5.mv"))
    assert(d.getMessage.toLowerCase.contains("read-only"))
  }

  test("SQL INSERT publishes a new epoch through the lease") {
    publishMv("s8")
    // INSERT INTO appends to the current snapshot as epoch 3
    spark.sql("INSERT INTO graft.s8.mv VALUES (9, 'z', 90.0)")
    assert(SnapshotStore.versions(spark, s"$root/s8/mv").max === 3L)
    val rows = spark.sql("SELECT id, grp, v FROM graft.s8.mv ORDER BY id")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows === Seq((1L, "a", 11.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (9L, "z", 90.0)))
    // prior epochs stay readable — the insert was a publish, not a mutation
    assert(spark.sql("SELECT count(*) FROM graft.s8.mv VERSION AS OF 2")
      .as[Long].head() === 3L)
    // INSERT OVERWRITE replaces the snapshot wholesale as epoch 4
    spark.sql("INSERT OVERWRITE graft.s8.mv VALUES (7, 'q', 1.0)")
    assert(spark.sql("SELECT id, grp, v FROM graft.s8.mv")
      .as[(Long, String, Double)].collect().toSeq === Seq((7L, "q", 1.0)))
    assert(SnapshotStore.versions(spark, s"$root/s8/mv").max === 4L)
    // a held writer lease makes SQL INSERT fail loudly — same lock
    val err = intercept[Exception](
      SnapshotStore.withWriterLock(spark, s"$root/s8/mv") {
        spark.sql("INSERT INTO graft.s8.mv VALUES (8, 'y', 2.0)")
      })
    assert(err.getMessage.contains("another writer holds"), err.getMessage)
    // pinned reads refuse writes
    val p = intercept[Exception](
      spark.sql("INSERT INTO graft.s8.mv VERSION AS OF 2 VALUES (1, 'x', 0.0)"))
    assert(p.getMessage.nonEmpty)
  }
}
