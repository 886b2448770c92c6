package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev profiler: run named SparkEntry queries through the noop sink (the
  * Bench methodology) with a SparkListener attached, and print where the
  * time goes — jobs, stages, task time, shuffle bytes, GC, spill, and the
  * top stages by task time. The headless stand-in for the Spark UI's
  * stage/SQL tabs (guide §1/§7); the session comes from
  * `GraftSession.builder` like Bench's, so numbers are comparable.
  *
  * Usage: tools/run.sh graft.tools.Profile <sfDir> <query> [query ...]
  * Env: SPARK_GRAFT_CPUS (default 32), PROFILE_PASSES (default 2).
  */
object Profile {

  private final class Agg {
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var cpuMs = 0L
    var shufReadB = 0L
    var shufWriteB = 0L
    var fetchWaitMs = 0L
    var writeTimeMs = 0L
    var inputB = 0L
    var spillB = 0L
    var maxTaskMs = 0L
    var deserMs = 0L
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("PROFILE_PASSES", "2").toInt
    val spark = graft.GraftSession.builder("graft-profile", s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bench's warmup
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      df.agg(org.apache.spark.sql.functions.count(df.columns.map(df.col).head))
        .collect()
    }

    // per-stage aggregates, reset per run
    val stages = new ConcurrentHashMap[Int, Agg]()
    val stageNames = new ConcurrentHashMap[Int, String]()
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageNames.put(sc.stageInfo.stageId,
          sc.stageInfo.name.takeWhile(_ != '\n').take(80))
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val a = stages.computeIfAbsent(te.stageId, _ => new Agg)
          a.synchronized {
            a.tasks += 1
            a.runMs += m.executorRunTime
            a.gcMs += m.jvmGCTime
            a.cpuMs += m.executorCpuTime / 1000000L
            a.deserMs += m.executorDeserializeTime
            a.shufReadB += m.shuffleReadMetrics.totalBytesRead
            a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
            a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            a.writeTimeMs += m.shuffleWriteMetrics.writeTime / 1000000L
            a.inputB += m.inputMetrics.bytesRead
            a.spillB += m.diskBytesSpilled
            a.maxTaskMs = math.max(a.maxTaskMs, m.executorRunTime)
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to passes).foreach { p =>
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
        stages.clear(); stageNames.clear(); jobs = 0
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // settle listener events (listenerBus is package-private; a short
        // sleep suffices for a dev profiler)
        Thread.sleep(300)
        import scala.jdk.CollectionConverters._
        val ss = stages.asScala.toSeq
        def tot(f: Agg => Long) = ss.map(x => f(x._2)).sum
        println(f"== $name pass$p wall=$wall%.2fs jobs=$jobs stages=${ss.size} " +
          f"tasks=${tot(_.tasks)} taskTime=${tot(_.runMs) / 1e3}%.1fs " +
          f"cpu=${tot(_.cpuMs) / 1e3}%.1fs gc=${tot(_.gcMs) / 1e3}%.1fs " +
          f"shufR=${tot(_.shufReadB) / 1e6}%.1fMB shufW=${tot(_.shufWriteB) / 1e6}%.1fMB " +
          f"fetchWait=${tot(_.fetchWaitMs) / 1e3}%.1fs input=${tot(_.inputB) / 1e6}%.1fMB " +
          f"spill=${tot(_.spillB) / 1e6}%.1fMB")
        ss.sortBy(-_._2.runMs).take(8).foreach { case (sid, a) =>
          println(f"   stage $sid%4d run=${a.runMs / 1e3}%6.2fs cpu=${a.cpuMs / 1e3}%6.2fs " +
            f"tasks=${a.tasks}%4d maxTask=${a.maxTaskMs / 1e3}%5.2fs " +
            f"shufR=${a.shufReadB / 1e6}%7.1fMB shufW=${a.shufWriteB / 1e6}%7.1fMB " +
            f"in=${a.inputB / 1e6}%6.1fMB  ${stageNames.getOrDefault(sid, "?")}")
        }
      }
    }
    spark.stop()
  }
}
