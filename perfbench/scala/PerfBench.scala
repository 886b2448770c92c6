package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * The benchmark's JVM side: drives graft through its public API for one
 * workload (or, traced, for both), times every unit of work, and
 * writes what it saw as JSON for `perfbench/run.py`, which checks it
 * against its own computation and prints the metrics.
 *
 * Arguments are `key=value`:
 *   workloads  comma list; the first is timed for the end-to-end metrics
 *   in, out, work  input, result and scratch directories
 *   seconds    least length of each timed section
 *   trace      1 attaches the [[Meter]] and [[Tracer]] and reports layers
 *   cores      N of `local[N]`
 *   warm_*     warm-up units per workload (commits, batches, board passes)
 *   units_*    timed units per workload
 *   buckets    bucket count of both streaming views
 *   queries    comma list of board queries
 */
object PerfBench {

  /** One unit of work: a streaming round or a board query. */
  final case class Op(unit: String, ms: Double, timed: Boolean,
      obs: Seq[(String, String)])

  final class Result(val workload: String) {
    var firstOpMs = 0L
    var timedS = 0.0
    val ops = ArrayBuffer.empty[Op]
    val layers = ArrayBuffer.empty[(String, Double)]
  }

  private var spark: SparkSession = _
  private var kv: Map[String, String] = Map.empty
  private var meter: Option[Meter] = None
  private var tracer: Tracer = new Tracer(false)

  private def arg(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))

  private def cores: Int = arg("cores").toInt
  private def seconds: Double = arg("seconds").toDouble

  def main(args: Array[String]): Unit = {
    kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val trace = arg("trace") == "1"
    spark = graft.GraftSession.builder("perfbench", s"local[$cores]")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer = new Tracer(trace)
    if (trace) {
      val m = new Meter
      spark.sparkContext.addSparkListener(m)
      meter = Some(m)
    }
    Files.createDirectories(Paths.get(arg("out")))
    arg("workloads").split(",").foreach { w =>
      val r = w match {
        case "streaming" => streaming()
        case "board_heavy" => boardHeavy()
        case other => throw new IllegalArgumentException(s"workload $other")
      }
      writeResult(r)
    }
    tracer.write(Paths.get(arg("out"), "spans.jsonl"))
    spark.stop()
  }

  // ---- shared helpers ---------------------------------------------------

  private def readCsv(path: String): Array[Array[Long]] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .filter(_.nonEmpty).map(_.split(',').map(_.toLong)).toArray

  /** Rows grouped by their first column (the batch number, 0-based and
    * dense), with that column dropped. */
  private def byBatch(rows: Array[Array[Long]]): Array[Array[Array[Long]]] = {
    val n = if (rows.isEmpty) 0 else rows.map(_(0)).max.toInt + 1
    val out = Array.fill(n)(ArrayBuffer.empty[Array[Long]])
    rows.foreach(r => out(r(0).toInt) += r.drop(1))
    out.map(_.toArray)
  }

  private def inGroup[T](unit: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(unit, unit, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** (row count, checksum) of a view, read the way a user reads it. */
  private def viewSums(path: String, checksum: Column): (Long, Long) = {
    val r = spark.read.parquet(path)
      .agg(count(lit(1)), coalesce(sum(checksum), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** JVM-wide counters sampled around a timed section. */
  private final class JvmSample {
    val gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val cpuNs: Long = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime
  }

  private def addJvmLayers(r: Result, before: JvmSample, persisted: Seq[Int]): Unit = {
    val after = new JvmSample
    val n = math.max(r.ops.count(_.timed), 1)
    r.layers += s"jvm.gc_ms_per_op.${r.workload}" -> (after.gcMs - before.gcMs).toDouble / n
    r.layers += s"jvm.cpu_ms_per_op.${r.workload}" -> (after.cpuNs - before.cpuNs) / 1e6 / n
    r.layers += s"lineage.persisted_rdds_after_op.${r.workload}" ->
      (if (persisted.isEmpty) 0.0 else persisted.max.toDouble)
  }

  /** Run `unitOf(i)` for the `warm` warm-up units i < warm, then time
    * `units` more. The count is fixed so that the samples a run takes do
    * not depend on how fast the program is; only if they end before
    * `seconds` have passed are further groups of `units` timed. */
  private def timedLoop(r: Result, warm: Int, units: Int)(unitOf: Int => Unit): Unit = {
    (0 until warm).foreach(unitOf)
    r.firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var i = warm
    while (i == warm || (System.nanoTime() - t0) / 1e9 < seconds) {
      (0 until units).foreach { _ => unitOf(i); i += 1 }
    }
    r.timedS = (System.nanoTime() - t0) / 1e9
  }

  // ---- streaming --------------------------------------------------------

  /** One fact changelog, two live views: each round's fact changes are
    * committed to a [[graft.streaming.MaterializedView]] (latest fact per
    * a_id, tombstones drop the key) and applied with the round's dim
    * changes by [[graft.streaming.JoinMv.applyBatch]] (facts left-joined
    * to their dim); then both views are read back. Round 0 loads every key. */
  private def streaming(): Result = {
    val r = new Result("streaming")
    val facts = byBatch(readCsv(s"${arg("in")}/streaming/facts.csv"))
    val dims = byBatch(readCsv(s"${arg("in")}/streaming/dims.csv"))
    val warm = arg("warm_streaming").toInt
    val buckets = arg("buckets").toInt
    val base = s"${arg("work")}/streaming"
    val mvPath = s"$base/mv"
    val joinBase = s"$base/join"
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val session = spark
    import session.implicits._

    // per-batch (addBatch, triggerExecution) ms from StreamingQueryProgress
    val progress = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        if (d.containsKey("addBatch"))
          progress.put(e.progress.batchId, (d.get("addBatch").longValue,
            d.get("triggerExecution").longValue))
      }
    }
    if (tracer.enabled) spark.streams.addListener(progressListener)

    val input = MemoryStream[(Long, Long, Long, Long, Boolean)]
    val q = graft.streaming.MaterializedView.newBuilder()
      .setSource(input.toDF().toDF("a_id", "a_ver", "fk", "a_val", "deleted"))
      .setTargetPath(mvPath)
      .setPrimaryKeys("a_id")
      .setVersionColumn("a_ver")
      .setDeleteColumn("deleted")
      .setNumBuckets(buckets)
      .setCheckpointLocation(s"$base/mv_checkpoint")
      .build()
      .start()
    val apply = graft.streaming.JoinMv.applyBatch(joinBase,
      "a_id", "a_ver", "a_op", "fk", "b_id", "b_ver", "b_op", nBuckets = buckets) _
    def op(del: Long) = if (del == 1L) "delete" else "upsert"
    val factSum = col("a_id") * 1000003L + col("a_ver") * 7919L +
      col("fk") * 31L + col("a_val")
    val joinSum = factSum + coalesce(col("b_val"), lit(-1L)) * 13L

    val commitMs = ArrayBuffer.empty[(Int, Double)]
    val mvReadMs = ArrayBuffer.empty[Double]
    val joinReadMs = ArrayBuffer.empty[Double]
    val phases = ArrayBuffer.empty[Seq[(String, Long)]]
    val persisted = ArrayBuffer.empty[Int]
    var jvm0: JvmSample = null
    try {
      timedLoop(r, warm, arg("units_streaming").toInt) { i =>
        require(i < facts.length && i < dims.length, s"feed exhausted after $i rounds")
        if (i == warm) jvm0 = new JvmSample
        val mvRows = facts(i).toSeq.map(a => (a(0), a(1), a(3), a(4), a(2) == 1L))
        val fa = facts(i).toSeq.map(a => (a(0), a(1), op(a(2)), a(3), a(4)))
          .toDF("a_id", "a_ver", "a_op", "fk", "a_val")
        val di = dims(i).toSeq.map(a => (a(0), a(1), op(a(2)), a(3), s"d${a(0)}v${a(1)}"))
          .toDF("b_id", "b_ver", "b_op", "b_val", "b_name")
        tracer.inUnit(s"round:$i") {
          val t0 = System.nanoTime()
          tracer.span("mv_commit") { input.addData(mvRows); q.processAllAvailable() }
          val t1 = System.nanoTime()
          val (mvN, mvSum) = tracer.span("mv_read") {
            inGroup(s"mvread:$i")(viewSums(mvPath, factSum))
          }
          val t2 = System.nanoTime()
          tracer.span("join_apply")(inGroup(s"join:$i")(apply(fa, di, i.toLong)))
          val t3 = System.nanoTime()
          graft.streaming.JoinMv.lastPhases.foreach { case (k, v) => tracer.reported(k, v) }
          val (jN, jSum) = tracer.span("join_read") {
            inGroup(s"joinread:$i")(viewSums(s"$joinBase/mv", joinSum))
          }
          val t4 = System.nanoTime()
          val timed = i >= warm
          r.ops += Op(s"round:$i", ms(t0, t1) + ms(t2, t3), timed, Seq(
            "round" -> i.toString,
            "commit_ms" -> Json.num(ms(t0, t1)), "apply_ms" -> Json.num(ms(t2, t3)),
            "mv_rows" -> mvN.toString, "mv_checksum" -> mvSum.toString,
            "join_rows" -> jN.toString, "join_checksum" -> jSum.toString))
          if (timed) {
            commitMs += i -> ms(t0, t1)
            mvReadMs += ms(t1, t2)
            joinReadMs += ms(t3, t4)
            phases += graft.streaming.JoinMv.lastPhases
            persisted += spark.sparkContext.getPersistentRDDs.size
          }
        }
      }
    } finally q.stop()
    val drop = graft.streaming.BucketedTable.BucketCol
    spark.read.parquet(mvPath).drop(drop)
      .write.mode("overwrite").parquet(s"${arg("out")}/mv_final")
    spark.read.parquet(s"$joinBase/mv").drop(drop)
      .write.mode("overwrite").parquet(s"${arg("out")}/join_final")

    if (tracer.enabled) {
      val m = meter.get
      val sc = spark.sparkContext
      spark.streams.removeListener(progressListener)
      org.apache.spark.BenchBridge.drainListeners(sc)
      // MemoryStream batch ids count from 0 with the rounds
      val perCommit = commitMs.toSeq.map { case (i, lat) =>
        val (add, trig) = progress.getOrDefault(i.toLong, (-1L, -1L))
        (add.toDouble, (trig - add).toDouble, lat - trig, m.drained(sc, s"batch:$i"))
      }
      r.layers += "mv.add_batch_ms" -> median(perCommit.map(_._1))
      r.layers += "mv.trigger_overhead_ms" -> median(perCommit.map(_._2))
      r.layers += "mv.wait_ms" -> median(perCommit.map(_._3))
      r.layers += "mv.jobs_per_commit" -> median(perCommit.map(_._4.jobs.toDouble))
      r.layers += "mv.tasks_per_commit" -> median(perCommit.map(_._4.tasks.toDouble))
      r.layers += "mv.task_ms_per_commit" -> median(perCommit.map(_._4.taskMs.toDouble))
      r.layers += "mv.bytes_written_per_commit" ->
        median(perCommit.map(_._4.bytesWritten.toDouble))
      r.layers += "view.read_ms" -> median(mvReadMs.toSeq)
      val (files, bytes) = dataFiles(mvPath)
      val live = spark.read.parquet(mvPath).count()
      r.layers += "storage.files" -> files.toDouble
      r.layers += "storage.bytes_per_live_row" -> bytes.toDouble / math.max(live, 1L)

      phases.headOption.toSeq.flatMap(_.map(_._1)).foreach { p =>
        r.layers += s"joinmv.${p}_ms" ->
          median(phases.toSeq.flatMap(_.find(_._1 == p).map(_._2.toDouble)))
      }
      val perBatch = commitMs.toSeq.map { case (i, _) => m.drained(sc, s"join:$i") }
      r.layers += "joinmv.jobs_per_batch" -> median(perBatch.map(_.jobs.toDouble))
      r.layers += "joinmv.tasks_per_batch" -> median(perBatch.map(_.tasks.toDouble))
      r.layers += "joinmv.bytes_written_per_batch" ->
        median(perBatch.map(_.bytesWritten.toDouble))
      r.layers += "joinmv.view_read_ms" -> median(joinReadMs.toSeq)
      addJvmLayers(r, jvm0, persisted.toSeq)
    }
    r
  }

  /** (count, total bytes) of the data files under a table directory. */
  private def dataFiles(path: String): (Long, Long) = {
    val s = Files.walk(Paths.get(path))
    try {
      val files = s.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }
      }.toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally s.close()
  }

  // ---- board_heavy ------------------------------------------------------

  private def boardHeavy(): Result = {
    val r = new Result("board_heavy")
    val dir = s"${arg("in")}/board_heavy"
    val queries = arg("queries").split(",").toSeq
    val warm = arg("warm_board_heavy").toInt
    // the oracle SQL of the queries (and q43, whose pair graph the
    // q134_pagerank check recomputes), for the DuckDB checks
    val oracle = (queries :+ "q43_ngram_jaccard").distinct
      .flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> Json.str(_)))
    Files.write(Paths.get(arg("out"), "oracle_sql.json"),
      Json.obj(oracle).getBytes("UTF-8"))
    val timedPasses = ArrayBuffer.empty[Int]
    val persisted = ArrayBuffer.empty[Int]
    var jvm0: JvmSample = null
    // one unit of timedLoop is one whole pass over the query list, so every
    // run attempts whole rounds of the same queries
    timedLoop(r, warm, arg("units_board_heavy").toInt) { p =>
      if (p == warm) jvm0 = new JvmSample
      val timed = p >= warm
      if (timed) timedPasses += p
      queries.foreach { name =>
        val unit = s"board:$p:$name"
        tracer.inUnit(unit) {
          val t0 = System.nanoTime()
          tracer.span("query") {
            inGroup(unit) {
              graft.SparkEntry.queries(name)(spark, dir)
                .write.mode("overwrite").parquet(s"${arg("out")}/board/p$p/$name")
            }
          }
          val t1 = System.nanoTime()
          r.ops += Op(unit, ms(t0, t1), timed, Seq("query" -> Json.str(name),
            "pass" -> p.toString))
          tracer.span("drain")(graft.Lineage.drainLeaked(spark))
          if (timed) persisted += spark.sparkContext.getPersistentRDDs.size
        }
      }
    }

    if (tracer.enabled) {
      val sc = spark.sparkContext
      queries.foreach { name =>
        val per = timedPasses.toSeq.map { p =>
          val wall = r.ops.find(_.unit == s"board:$p:$name").get.ms
          (wall, meter.get.drained(sc, s"board:$p:$name"))
        }
        def med(f: ((Double, Counts)) => Double) = median(per.map(f))
        r.layers += s"board.$name.wall_ms" -> med(_._1)
        r.layers += s"board.$name.jobs" -> med(_._2.jobs.toDouble)
        r.layers += s"board.$name.task_ms" -> med(_._2.taskMs.toDouble)
        r.layers += s"board.$name.shuffle_bytes" -> med(_._2.shuffleBytes.toDouble)
        r.layers += s"board.$name.spill_bytes" -> med(_._2.spillBytes.toDouble)
        r.layers += s"board.$name.floor_ms" -> med(x => x._1 - x._2.taskMs.toDouble / cores)
      }
      val perPass = timedPasses.toSeq.map { p =>
        val cs = queries.map(q => meter.get.drained(sc, s"board:$p:$q"))
        (cs.map(_.bytesRead).sum.toDouble, cs.map(_.recordsRead).sum.toDouble)
      }
      r.layers += "sources.bytes_read" -> median(perPass.map(_._1))
      r.layers += "sources.records_read" -> median(perPass.map(_._2))
      addJvmLayers(r, jvm0, persisted.toSeq)
    }
    r
  }

  // ---- output -----------------------------------------------------------

  private def writeResult(r: Result): Unit = {
    val ops = r.ops.map { o =>
      Json.obj(Seq("unit" -> Json.str(o.unit), "ms" -> Json.num(o.ms),
        "timed" -> o.timed.toString) ++ o.obs)
    }
    val json = Json.obj(Seq(
      "workload" -> Json.str(r.workload),
      "first_op_ms" -> r.firstOpMs.toString,
      "timed_s" -> Json.num(r.timedS),
      "peak_rss_kb" -> peakRssKb().toString,
      "layers" -> Json.obj(r.layers.map { case (k, v) => k -> Json.num(v) }),
      "ops" -> Json.arr(ops)))
    Files.write(Paths.get(arg("out"), s"${r.workload}.json"), json.getBytes("UTF-8"))
  }
}
