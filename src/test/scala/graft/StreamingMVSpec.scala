package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{ChangelogOps, MaterializedView}

/** End-to-end streaming MV: MemoryStream changelog → incremental latest-by-key
  * → foreachBatch upsert → parquet target, across micro-batches — the
  * TiFlinkApp pipeline (snapshot, CDC, upsert sink) in Structured Streaming. */
class StreamingMVSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("materialized view converges to batch ground truth across micro-batches") {
    val input = MemoryStream[(Long, Long, String, Double)]
    val source = input.toDF().toDF("user_id", "version", "op", "value")
    val base = Files.createTempDirectory("mv").toString
    val target = s"$base/target"

    val mv = MaterializedView.newBuilder()
      .setSource(source)
      .setQuery(df => ChangelogOps.latestByKey(df, Seq("user_id"), "version")
        .withColumn("is_delete", $"op" === "del"))
      .setTargetPath(target)
      .setPrimaryKeys("user_id")
      .setVersionColumn("version")
      .setDeleteColumn("is_delete")
      .setCheckpointLocation(s"$base/ckpt")
      .build()
    val q = mv.start()
    try {
      input.addData((1L, 1L, "ins", 10.0), (2L, 1L, "ins", 20.0), (1L, 2L, "upd", 11.0))
      q.processAllAvailable()
      def state = spark.read.parquet(target)
        .select("user_id", "version", "value").as[(Long, Long, Double)].collect().toSet
      assert(state === Set((1L, 2L, 11.0), (2L, 1L, 20.0)))

      input.addData((2L, 2L, "del", 0.0), (3L, 1L, "ins", 30.0), (1L, 3L, "upd", 12.0))
      q.processAllAvailable()
      assert(state === Set((1L, 3L, 12.0), (3L, 1L, 30.0)))

      // observability: every batch's progress carries the observed metrics
      // (row count + max version) without any extra job
      val obs = q.recentProgress.toSeq
        .filter(_.observedMetrics.containsKey("graft_mv"))
        .map(_.observedMetrics.get("graft_mv"))
        .filter(_.getAs[Long]("mv_rows") > 0)
      assert(obs.nonEmpty, "progress must expose graft_mv observed metrics")
      assert(obs.map(_.getAs[Long]("mv_rows")).sum >= 5L,
        "counted rows across batches must cover the six inputs post-compaction")
      assert(obs.map(_.getAs[Long]("mv_max_version")).max === 3L)
    } finally q.stop()
  }

  test("a view started under the durable lineage posture reaches the same rows") {
    // the posture is a session setting, so the builder needs no setter:
    // the stream's batches truncate under whatever the session says
    def run(): Set[(Long, Long, Double)] = {
      val input = MemoryStream[(Long, Long, String, Double)]
      val base = Files.createTempDirectory("mvdur").toString
      val q = MaterializedView.newBuilder()
        .setSource(input.toDF().toDF("user_id", "version", "op", "value"))
        .setQuery(df => ChangelogOps.latestByKey(df, Seq("user_id"), "version")
          .withColumn("is_delete", $"op" === "del"))
        .setTargetPath(s"$base/target")
        .setPrimaryKeys("user_id")
        .setVersionColumn("version")
        .setDeleteColumn("is_delete")
        .setNumBuckets(4)
        .setCheckpointLocation(s"$base/ckpt")
        .build().start()
      try {
        input.addData((1L, 1L, "ins", 10.0), (2L, 1L, "ins", 20.0), (3L, 1L, "ins", 30.0))
        q.processAllAvailable()
        input.addData((2L, 2L, "del", 0.0), (1L, 2L, "upd", 11.0), (4L, 1L, "ins", 40.0))
        q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(s"$base/target")
        .select("user_id", "version", "value").as[(Long, Long, Double)].collect().toSet
    }
    val plain = run()
    assert(plain === Set((1L, 2L, 11.0), (3L, 1L, 30.0), (4L, 1L, 40.0)))
    withDurableLineage { _ =>
      // spills land directly under the context's checkpoint directory
      val spillRoot = java.nio.file.Paths.get(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      val watch = spillRoot.getFileSystem.newWatchService()
      try {
        spillRoot.register(watch, java.nio.file.StandardWatchEventKinds.ENTRY_CREATE)
        assert(run() === plain)
        import scala.jdk.CollectionConverters._
        val created = Option(watch.poll()).toSeq.flatMap(_.pollEvents().asScala)
          .map(_.context().toString)
        assert(created.exists(_.startsWith("graft-spill-")),
          s"the view's batches did not spill durably: $created")
        assert(java.nio.file.Files.list(spillRoot).iterator().asScala
          .forall(!_.getFileName.toString.startsWith("graft-spill-")),
          "every batch releases its spills")
      } finally watch.close()
    }
  }

  test("snapshot-then-stream bootstrap applies once and CDC maintains it") {
    // the reference's two-phase start: full snapshot at t0, changefeed
    // from t0 — the MV begins consistent with the table, not empty
    val input = MemoryStream[(Long, Long, String, Double)]
    val source = input.toDF().toDF("user_id", "version", "op", "value")
    val base = Files.createTempDirectory("mvboot").toString
    val snapshot = Seq((1L, 10L, "ins", 1.0), (2L, 10L, "ins", 2.0),
      (3L, 10L, "ins", 3.0)).toDF("user_id", "version", "op", "value")

    def build() = MaterializedView.newBuilder()
      .setSource(source)
      .setBootstrap(snapshot)
      .setQuery(df => ChangelogOps.latestByKey(df, Seq("user_id"), "version")
        .withColumn("is_delete", $"op" === "del"))
      .setTargetPath(s"$base/target")
      .setPrimaryKeys("user_id")
      .setVersionColumn("version")
      .setDeleteColumn("is_delete")
      .setCheckpointLocation(s"$base/ckpt")
      .build()
    def state = spark.read.parquet(s"$base/target")
      .select("user_id", "version", "value").as[(Long, Long, Double)]
      .collect().toSet

    val q1 = build().start()
    try {
      q1.processAllAvailable() // zero stream batches yet
      assert(state === Set((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 10L, 3.0)))
      // CDC from the snapshot timestamp: update, delete, insert
      input.addData((1L, 11L, "upd", 1.5), (2L, 11L, "del", 0.0),
        (4L, 11L, "ins", 4.0))
      q1.processAllAvailable()
      assert(state === Set((1L, 11L, 1.5), (3L, 10L, 3.0), (4L, 11L, 4.0)))
    } finally q1.stop()

    // restart: the marker prevents a re-apply — the deleted key 2 must
    // NOT be resurrected by the snapshot, and stale snapshot versions
    // must not overwrite newer state
    val q2 = build().start()
    try {
      input.addData((3L, 12L, "upd", 3.5))
      q2.processAllAvailable()
      assert(state === Set((1L, 11L, 1.5), (3L, 12L, 3.5), (4L, 11L, 4.0)))
    } finally q2.stop()
  }

  test("sessionize emits closed sessions with gap semantics") {
    val input = MemoryStream[ChangelogOps.Event]
    def ev(u: Long, sec: Long) =
      ChangelogOps.Event(u, new Timestamp(sec * 1000), "click", 1.0)

    val sessions = ChangelogOps.sessionize(input.toDS(), gap = 60_000L, watermarkDelay = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      // offset from epoch 0: an event at exactly the initial watermark (0)
      // would be dropped as late
      input.addData(ev(1, 1000), ev(1, 1030), ev(2, 1005))
      q.processAllAvailable()
      // user 1's next event is far past the gap → first session closes
      input.addData(ev(1, 2000))
      q.processAllAvailable()
      val closed = spark.table("sessions")
        .select("user_id", "session_start", "session_end", "n_events")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      assert(closed.contains((1L, new Timestamp(1000_000), new Timestamp(1090_000), 2L)))
    } finally q.stop()
  }

  test("MV over a stream-static join (multi-table query shape)") {
    val input = MemoryStream[(Long, Long, Double)]
    val changes = input.toDF().toDF("cust_id", "version", "amount")
    val dims = Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("cust_id", "segment")
    val base = Files.createTempDirectory("mvj").toString

    val mv = MaterializedView.newBuilder()
      .setSource(changes)
      .setQuery(_.join(dims, "cust_id")) // static dim broadcast per batch
      .setTargetPath(s"$base/target")
      .setPrimaryKeys("cust_id")
      .setVersionColumn("version")
      .setCheckpointLocation(s"$base/ckpt")
      .build()
    val q = mv.start()
    try {
      input.addData((1L, 1L, 5.0), (2L, 1L, 7.0))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/target")
        .select("cust_id", "segment", "amount").as[(Long, String, Double)]
        .collect().toSet
      assert(got === Set((1L, "BUILDING", 5.0), (2L, "MACHINERY", 7.0)))
    } finally q.stop()
  }

  test("SQL-string MV joins the stream against catalog tables across restart") {
    val input = MemoryStream[(Long, Long, Double)]
    val changes = input.toDF().toDF("nat_key", "version", "amount")
    val base = Files.createTempDirectory("mvsql").toString

    // one SQL string, two tables: the stream + the cataloged nation dim —
    // the TiFlinkApp UX (any catalog table referable by name)
    def mv = MaterializedView.newBuilder()
      .setSource(changes)
      .setCatalog(sf)
      .setSqlQuery(
        """SELECT c.nat_key, n.n_name, c.version, c.amount
          |FROM changes c JOIN nation n ON c.nat_key = n.n_nationkey""".stripMargin,
        sourceView = "changes")
      .setTargetPath(s"$base/target")
      .setPrimaryKeys("nat_key")
      .setVersionColumn("version")
      .setCheckpointLocation(s"$base/ckpt")
      .build()

    val q1 = mv.start()
    input.addData((0L, 1L, 5.0), (1L, 1L, 7.0))
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint: offsets resume, upserts continue
    val q2 = mv.start()
    input.addData((0L, 2L, 6.0))
    q2.processAllAvailable()
    q2.stop()

    val names = graft.sources.Tables.nation(spark, sf)
      .select($"n_nationkey", $"n_name").as[(Long, String)].collect().toMap
    val got = spark.read.parquet(s"$base/target")
      .select("nat_key", "n_name", "version", "amount")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(got === Set(
      (0L, names(0L), 2L, 6.0),
      (1L, names(1L), 1L, 7.0)))
  }

  test("primary keys are inferred from the query's GROUP BY when unset") {
    val input = MemoryStream[(Long, Long, Double)]
    val source = input.toDF().toDF("user_id", "version", "amount")
    val base = Files.createTempDirectory("mvpk").toString

    val mv = MaterializedView.newBuilder()
      .setSource(source)
      .setSqlQuery(
        """SELECT user_id, max(version) AS version, sum(amount) AS total
          |FROM changes GROUP BY user_id""".stripMargin,
        sourceView = "changes")
      .setTargetPath(s"$base/target")
      .setVersionColumn("version") // PKs deliberately NOT set
      .setCheckpointLocation(s"$base/ckpt")
      .build()
    assert(mv.resolvedPrimaryKeys === Seq("user_id"))
    val q = mv.start()
    try {
      input.addData((1L, 1L, 5.0), (1L, 2L, 7.0), (2L, 1L, 3.0))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/target")
        .select("user_id", "total").as[(Long, Double)].collect().toSet
      assert(got === Set((1L, 12.0), (2L, 3.0)))
    } finally q.stop()
  }

  test("PK inference resolves expression group-bys via aliases or refuses") {
    val input = MemoryStream[(Long, Long, Double)]
    val source = input.toDF().toDF("user_id", "version", "amount")
    def mv(sql: String) = MaterializedView.newBuilder()
      .setSource(source)
      .setSqlQuery(sql, sourceView = "changes")
      .setTargetPath("/tmp/x").setVersionColumn("version")
      .setCheckpointLocation("/tmp/y")
      .build()
    // unaliased grouping EXPRESSION resolved through its output alias
    assert(mv("""SELECT user_id % 2 AS parity, max(version) AS version
                |FROM changes GROUP BY user_id % 2""".stripMargin)
      .resolvedPrimaryKeys === Seq("parity"))
    // a grouping column that cannot be named → NO partial key: refuse
    val blind = mv("""SELECT max(version) AS version, sum(amount) AS total
                     |FROM changes GROUP BY user_id % 2""".stripMargin)
    assert(blind.resolvedPrimaryKeys === Nil)
    val e = intercept[IllegalArgumentException](blind.start())
    assert(e.getMessage.contains("PrimaryKeys can't be empty"))
  }

  test("dropIfExists recreates the target and checkpoint from scratch") {
    val input = MemoryStream[(Long, Long, Double)]
    val source = input.toDF().toDF("k", "version", "v")
    val base = Files.createTempDirectory("mvdrop").toString
    def mv(drop: Boolean) = MaterializedView.newBuilder()
      .setSource(source)
      .setTargetPath(s"$base/target")
      .setPrimaryKeys("k").setVersionColumn("version")
      .setCheckpointLocation(s"$base/ckpt")
      .setDropIfExists(drop)
      .build()

    val q1 = mv(drop = false).start()
    input.addData((1L, 1L, 10.0))
    q1.processAllAvailable()
    q1.stop()

    // force-recreate: old state gone, the stream re-applies from offset 0
    val q2 = mv(drop = true).start()
    input.addData((2L, 1L, 20.0))
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(s"$base/target")
      .select("k", "v").as[(Long, Double)].collect().toSet
    assert(got === Set((1L, 10.0), (2L, 20.0)),
      "a dropped checkpoint must replay the source into a fresh target")
  }

  test("a schema change against an existing target fails loudly") {
    val input = MemoryStream[(Long, Long, Double)]
    val source = input.toDF().toDF("k", "version", "v")
    val base = Files.createTempDirectory("mvevo").toString
    def mv(q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      MaterializedView.newBuilder()
        .setSource(source).setQuery(q)
        .setTargetPath(s"$base/target")
        .setPrimaryKeys("k").setVersionColumn("version")
        .setCheckpointLocation(s"$base/ckpt")
        .build()

    val q1 = mv(identity).start()
    input.addData((1L, 1L, 10.0))
    q1.processAllAvailable()
    q1.stop()

    // same schema restarts fine
    val q2 = mv(identity).start()
    q2.stop()

    // renamed column → reject, pointing at the rebuild path
    val e = intercept[IllegalStateException] {
      mv(df => df.withColumnRenamed("v", "value")).start()
    }
    assert(e.getMessage.contains("incompatible schema change"))
    assert(e.getMessage.contains("setDropIfExists"))

    // changed type → reject too
    val e2 = intercept[IllegalStateException] {
      mv(df => df.withColumn("v", $"v".cast("string"))).start()
    }
    assert(e2.getMessage.contains("incompatible schema change"))
  }

  test("builder validates primary keys like TiFlinkApp") {
    val input = MemoryStream[(Long, Long)]
    val mv = MaterializedView.newBuilder()
      .setSource(input.toDF().toDF("k", "v"))
      .setTargetPath("/tmp/x").setCheckpointLocation("/tmp/y")
      .setPrimaryKeys("nope").setVersionColumn("v")
      .build()
    val e = intercept[IllegalArgumentException](mv.start())
    assert(e.getMessage.contains("PrimaryKeys must be contained"))
  }

  test("builder refuses a bucket count below 1") {
    val input = MemoryStream[(Long, Long)]
    val e = intercept[IllegalArgumentException](MaterializedView.newBuilder()
      .setSource(input.toDF().toDF("k", "v"))
      .setTargetPath("/tmp/x").setCheckpointLocation("/tmp/y")
      .setPrimaryKeys("k").setVersionColumn("v")
      .setNumBuckets(0)
      .build())
    assert(e.getMessage.contains("numBuckets must be >= 1, got 0"))
  }
}
