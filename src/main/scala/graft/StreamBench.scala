package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/**
 * Streaming throughput bench — the B-surface companion of [[Bench]] (which
 * covers the 320 batch queries only). Three representative streaming
 * components, each driven through a MemoryStream feed at TWO batch sizes,
 * reporting rows/s and mean per-batch latency:
 *
 *   - `mv_upsert`: the full [[graft.streaming.MaterializedView]] path —
 *     micro-batch → query transform → bucketed parquet upsert (the
 *     reference's FlinkTikvProducer-per-region analog).
 *   - `joinmv_delta`: [[graft.streaming.JoinMv.applyBatch]] — two-changelog
 *     delta join maintaining left/right/index/mv bucketed tables.
 *   - `tws_monitor`: one transformWithState processor
 *     ([[graft.streaming.StreamingAnomaly]], RocksDB state store) — the
 *     per-key O(1) state family (B45-B67).
 *
 * Prints ONE JSON line and persists it (default `STREAMBENCH.json`) so the
 * per-round numbers stay diffable alongside BENCH_full.json. Feeds are
 * deterministic; per-batch wall time is measured around addData +
 * processAllAvailable (or the direct foreachBatch application), i.e. the
 * whole commit-to-durable cycle, not just the plan.
 */
object StreamBench {

  private case class Res(rows: Long, batches: Int, sec: Double) {
    def rowsPerSec: Long = if (sec <= 0) 0L else (rows / sec).toLong
    def batchMs: Long = if (batches == 0) 0L else (sec * 1000 / batches).toLong
    def json: String =
      // Double.toString is locale-independent; the f interpolator is NOT
      // (a comma-decimal default locale would emit invalid JSON)
      s"""{"rows":$rows,"batches":$batches,"sec":${math.rint(sec * 1000) / 1000},""" +
        s""""rows_per_sec":$rowsPerSec,"batch_ms":$batchMs}"""
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder("graft-streambench", s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val sizes = Seq("small" -> 2000, "large" -> 20000)
    val batches = 5
    val keyspace = 50000 // update-heavy: later batches revisit keys

    def drain(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }

    // ---- 1. MaterializedView upsert (bucketed parquet sink) ----------
    def mvRun(rowsPerBatch: Int, warm: Boolean): Res = {
      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, Long, Double)]
      val mv = graft.streaming.MaterializedView.newBuilder()
        .setSource(input.toDS().toDF("k", "ver", "value"))
        .setQuery(df => df)
        .setTargetPath(tmp("sbench-mv-"))
        .setPrimaryKeys("k")
        .setVersionColumn("ver")
        .setCheckpointLocation(tmp("sbench-mv-ck-"))
        .setNumBuckets(16)
        .build()
      val q = mv.start()
      try {
        var fed = 0L
        val t0 = System.nanoTime()
        (1 to (if (warm) 1 else batches)).foreach { b =>
          val base = b.toLong * rowsPerBatch
          input.addData((0 until rowsPerBatch).map { i =>
            ((base + i) % keyspace, base + i, i.toDouble)
          })
          q.processAllAvailable()
          fed += rowsPerBatch
        }
        Res(fed, if (warm) 1 else batches, (System.nanoTime() - t0) / 1e9)
      } finally { q.stop(); drain() }
    }

    // ---- 2. JoinMv delta join (two changelogs -> joined MV) ----------
    def joinRun(rowsPerBatch: Int, warm: Boolean): Res = {
      val base = tmp("sbench-join-")
      val apply = graft.streaming.JoinMv.applyBatch(
        base, "a_id", "a_ver", "a_op", "fk", "b_id", "b_ver", "b_op",
        nBuckets = 16) _
      val nDim = math.max(rowsPerBatch / 10, 1)
      var fed = 0L
      val n = if (warm) 1 else batches
      val t0 = System.nanoTime()
      (1 to n).foreach { b =>
        val off = b.toLong * rowsPerBatch
        val facts = (0 until rowsPerBatch).map { i =>
          ((off + i) % keyspace, off + i, "upsert", (off + i) % nDim)
        }.toDF("a_id", "a_ver", "a_op", "fk")
        val dims = (0 until nDim).map { i =>
          (i.toLong, off + i, "upsert", s"dim-$b-$i")
        }.toDF("b_id", "b_ver", "b_op", "b_name")
        apply(facts, dims, b.toLong)
        fed += rowsPerBatch + nDim
      }
      val r = Res(fed, n, (System.nanoTime() - t0) / 1e9)
      drain()
      r
    }

    // ---- 3. transformWithState monitor (RocksDB keyed state) ---------
    def twsRun(rowsPerBatch: Int, warm: Boolean): Res = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
        val input = MemoryStream[graft.streaming.StreamingAnomaly.Obs]
        val sank = new java.util.concurrent.atomic.AtomicLong(0)
        val q = graft.streaming.StreamingAnomaly.detect(input.toDS())
          .writeStream.outputMode("append")
          .option("checkpointLocation", tmp("sbench-tws-ck-"))
          .foreachBatch { (df: org.apache.spark.sql.Dataset[
            graft.streaming.AnomalyAlert], _: Long) =>
            sank.addAndGet(df.count()); ()
          }
          .start()
        try {
          val users = math.max(rowsPerBatch / 50, 1) // ~50 obs per key/batch
          var fed = 0L
          val n = if (warm) 1 else batches
          val t0 = System.nanoTime()
          (1 to n).foreach { b =>
            val off = b.toLong * rowsPerBatch
            input.addData((0 until rowsPerBatch).map { i =>
              val u = (i % users).toLong
              // a stable series with a deterministic sprinkle of spikes
              val v = if (i % 97 == 0) 500.0 else 10.0 + (i % 7)
              (u, off + i, off + i, v, (v * 100).toLong)
            })
            q.processAllAvailable()
            fed += rowsPerBatch
          }
          Res(fed, n, (System.nanoTime() - t0) / 1e9)
        } finally { q.stop(); drain() }
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    val components = Seq[(String, (Int, Boolean) => Res)](
      "mv_upsert" -> (mvRun _),
      "joinmv_delta" -> (joinRun _),
      "tws_monitor" -> (twsRun _))

    val out = components.map { case (name, run) =>
      run(500, true) // warmup: codegen, committers, state store init
      val bySize = sizes.map { case (label, rows) =>
        val r = run(rows, false)
        System.err.println(s"[streambench] $name/$label: ${r.json}")
        s""""$label":${r.json}"""
      }
      // itemized commit choreography of the LAST joinmv batch (the
      // "prove the floor or cut it" table — phases in concurrent lanes
      // report their own spans, so the sum exceeds the batch wall time)
      val extra =
        if (name == "joinmv_delta" && graft.streaming.JoinMv.lastPhases.nonEmpty) {
          val ph = graft.streaming.JoinMv.lastPhases
            .map { case (k, v) => s""""$k":$v""" }.mkString(",")
          System.err.println(s"[streambench] $name phases_ms: " +
            graft.streaming.JoinMv.lastPhases.map(p => s"${p._1}=${p._2}")
              .mkString(" "))
          s""","phases_ms_last_batch":{$ph}"""
        } else ""
      s""""$name":{${bySize.mkString(",")}$extra}"""
    }

    // ---- 4. TSO coordinator under contention (B71/B76) ----------------
    // the reference's grpc coordinator is load-bearing at fan-out; this
    // publishes what graft's file-CAS oracle + TCP front end sustains:
    // txn cycles (BEGIN + COMMIT, fresh connection each wire line — the
    // TcpTso contract) at N concurrent writers, and the safePoint cost
    // under a deep in-flight backlog (exercising the 256-lookup
    // gap-verification cap, TimestampOracle.safePoint)
    val tsoJson = {
      val root = tmp("sbench-tso-")
      val hconf = spark.sparkContext.hadoopConfiguration
      val srv = new graft.streaming.TsoServer(hconf, root)
      try {
        def client() = graft.streaming.TcpTso(srv.host, srv.port)
        val warm = client()
        warm.commit(warm.begin()) // warm classes + fs dirs
        // deployed posture: a maintenance loop runs gc so `_tso` stays at
        // (in-flight + lease-retained markers) — begin/commit do an
        // O(dir) listing, so WITHOUT gc the bench degenerates into
        // measuring directory growth, not the coordinator (first capture
        // of that un-gc'd curve: 37 -> 21 -> 8 txn/s at 1/2/8 writers).
        // The 2 s marker lease prices the lost-ack commit-retry window
        // down to bench scale; production keeps the default.
        val gcStop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val gcThread = new Thread(() => {
          val c = client()
          while (!gcStop.get()) {
            try c.gc(leaseMs = 2000)
            catch { case scala.util.control.NonFatal(_) => () }
            Thread.sleep(500)
          }
        })
        gcThread.setDaemon(true)
        gcThread.start()
        val opsPerWriter = 100
        val byN = Seq(1, 2, 8).map { n =>
          // a writer thread dying mid-loop must FAIL the bench, not
          // silently publish txn_per_sec computed from work that never
          // ran — capture and rethrow after the join
          val writerFailure =
            new java.util.concurrent.atomic.AtomicReference[Throwable]()
          val t0 = System.nanoTime()
          val threads = (1 to n).map { _ =>
            new Thread(() => {
              try {
                val c = client()
                (1 to opsPerWriter).foreach { _ => c.commit(c.begin()) }
              } catch {
                case t: Throwable => writerFailure.compareAndSet(null, t)
              }
            })
          }
          threads.foreach(_.start())
          threads.foreach(_.join())
          if (writerFailure.get() != null)
            throw new IllegalStateException(
              s"tso bench writer died at n=$n — txn counts would be wrong",
              writerFailure.get())
          val sec = (System.nanoTime() - t0) / 1e9
          val txnPerSec = (n * opsPerWriter / sec).toLong
          System.err.println(
            s"[streambench] tso n=$n: $txnPerSec txn/s (${math.rint(sec * 1000) / 1000} s)")
          s""""n$n":{"writers":$n,"txn":${n * opsPerWriter},""" +
            s""""sec":${math.rint(sec * 1000) / 1000},"txn_per_sec":$txnPerSec}"""
        }
        gcStop.set(true)
        val c = client()
        val backlog = (1 to 300).map(_ => c.begin()) // > the 256-lookup cap
        val spN = 10
        val t1 = System.nanoTime()
        (1 to spN).foreach(_ => c.safePoint())
        val spMs = (System.nanoTime() - t1) / 1e6 / spN
        backlog.foreach(c.commit)
        System.err.println(
          s"[streambench] tso safepoint under 300 in-flight: ${spMs.toLong} ms/call")
        s""""tso_coordinator":{"txn_cycles":{${byN.mkString(",")}},""" +
          s""""safepoint_backlog":{"inflight":300,"calls":$spN,""" +
          s""""mean_ms":${spMs.toLong}}}"""
      } finally srv.close()
    }

    val json =
      s"""{"metric":"stream_components","unit":"rows_per_sec","cpus":$cpus,""" +
        s""""batches_per_size":$batches,"components":{${out.mkString(",")}},""" +
        tsoJson + "}"
    println(json)
    val dest = sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_OUT", "STREAMBENCH.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(dest), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[streambench] could not write $dest: $e") }
    spark.stop()
  }
}
