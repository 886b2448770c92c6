package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{JoinMv, MaterializedView}

/** The streaming commit path's steady state on the shared session: once a
  * view is loaded, a round shaped like the one before it (a
  * [[MaterializedView]] commit and a [[JoinMv]] batch) compiles no
  * generated class — the session's codegen cache holds the round's whole
  * working set — and runs only a bounded number of Spark jobs. */
class CommitSteadyStateSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Jobs started per job group. */
  private final class JobsByGroup extends SparkListener {
    private val n = new ConcurrentHashMap[String, AtomicLong]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      n.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet()
    }
    def apply(group: String): Long = {
      ListenerDrain(spark.sparkContext)
      Option(n.get(group)).map(_.get).getOrElse(0L)
    }
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a steady-state MV commit and JoinMv batch compile nothing and run " +
    "a bounded number of jobs") {
    val base = Files.createTempDirectory("steady").toString
    val keys = 0L until 400L
    val dimKeys = 0L until 40L
    val jobs = new JobsByGroup
    spark.sparkContext.addSparkListener(jobs)
    val input = MemoryStream[(Long, Long, Long, Boolean)]
    val q = MaterializedView.newBuilder()
      .setSource(input.toDF().toDF("k", "ver", "v", "deleted"))
      .setTargetPath(s"$base/mv")
      .setPrimaryKeys("k")
      .setVersionColumn("ver")
      .setDeleteColumn("deleted")
      .setNumBuckets(8)
      .setCheckpointLocation(s"$base/ckpt")
      .build()
      .start()
    val apply = JoinMv.applyBatch(s"$base/join", "a_id", "a_ver", "a_op", "fk",
      "b_id", "b_ver", "b_op", nBuckets = 8) _
    val mvGroup = q.runId.toString

    /** Round r updates every key at version r, so every round after the
      * first touches the same buckets with the same row counts. Returns
      * (classes compiled, MV commit jobs, JoinMv batch jobs). */
    def round(r: Long): (Long, Long, Long) = {
      val c0 = compiles
      val m0 = jobs(mvGroup)
      input.addData(keys.map(k => (k, r, k * r, false)))
      q.processAllAvailable()
      val mvJobs = jobs(mvGroup) - m0
      val fa = keys.map(k => (k, r, "upsert", k % dimKeys.size, k * r))
        .toDF("a_id", "a_ver", "a_op", "fk", "a_val")
      val fb = dimKeys.map(k => (k, r, "upsert", s"d$k-$r"))
        .toDF("b_id", "b_ver", "b_op", "b_name")
      val group = s"steady-join-$r"
      spark.sparkContext.setJobGroup(group, group)
      try apply(fa, fb, r) finally spark.sparkContext.clearJobGroup()
      (compiles - c0, mvJobs, jobs(group))
    }

    try {
      round(1L) // loads both views
      round(2L) // first round over loaded views
      val (compiled, mvJobs, joinJobs) = round(3L)
      info(s"steady round: $compiled classes compiled, MV commit $mvJobs " +
        s"jobs, JoinMv batch $joinJobs jobs")
      assert(compiled === 0L, "a steady-state round recompiled generated classes")
      assert(mvJobs > 0 && mvJobs <= 4, s"MV commit ran $mvJobs jobs")
      assert(joinJobs > 0 && joinJobs <= 30, s"JoinMv batch ran $joinJobs jobs")
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(jobs)
    }
    assert(spark.read.parquet(s"$base/mv").select("k", "ver", "v")
      .as[(Long, Long, Long)].collect().toSet === keys.map(k => (k, 3L, k * 3)).toSet)
    assert(spark.read.parquet(s"$base/join/mv").select("a_id", "b_name")
      .as[(Long, String)].collect().toSet ===
      keys.map(k => (k, s"d${k % dimKeys.size}-3")).toSet)
  }
}
