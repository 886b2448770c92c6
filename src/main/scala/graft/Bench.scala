package graft

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Queries are fully
  * materialized through the noop sink (a bare count() would let Catalyst
  * prune the computed columns and under-report). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-bench", s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup outside the timed region — a real column aggregate
    // per fact table (a bare count() is parquet-footer-only and warms
    // nothing), so the alphabetically-first queries don't absorb cold-start
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      df.agg(org.apache.spark.sql.functions.count(df.columns.map(df.col).head))
        .collect()
    }
    // ... and one shuffle + window pass so the first measured query doesn't
    // pay exchange/codegen machinery initialization either
    locally {
      import org.apache.spark.sql.functions._
      val e = spark.read.parquet(s"$sfDir/events.parquet")
      e.groupBy(col("user_id")).count()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("count"))))
        .write.format("noop").mode("overwrite").save()
    }
    // Between-queries cleanup: localCheckpoint materializations
    // (Lineage.truncate) register as persistent RDDs and otherwise live
    // until the ASYNC ContextCleaner happens to notice them — across a
    // 320-query board those leaked blocks pile up in the storage pool and
    // tax later queries' measurements (q104's r15 min-of-3 drifted +21%
    // with an unchanged code path). Unpersist them synchronously so every
    // query is measured against an empty block manager, like a standalone
    // run; System.gc() then clears broadcast/codegen garbage as before.
    // (Library users have the surgical equivalent, Lineage.drainLeaked —
    // Bench keeps the broader unpersist-all: nothing else holds blocks
    // here and it also covers any future non-Lineage persistence.)
    val noDrain = sys.env.contains("SPARK_GRAFT_NO_DRAIN") // A/B escape hatch
    def drainLeakedBlocks(): Unit = {
      if (!noDrain)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    // dev loop: SPARK_GRAFT_ONLY=q148_prefix_join,q134_pagerank restricts
    // the run to a comma-separated subset (full run when unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(s) => SparkEntry.queries.filter { case (k, _) => s(k) }
      case None    => SparkEntry.queries
    }
    // WHOLE-BOARD min-of-N (default 2): this box's same-day per-query
    // noise band is 1.5-2x, which round-over-round drifted the published
    // total 345 -> 405 s with zero code cause (r16->r17) — a real
    // regression repeats across passes, JIT/GC/box variance doesn't, so
    // the published per-query number is the MIN over full passes and the
    // pass totals are published alongside as the stated noise bound.
    // SPARK_GRAFT_PASSES=1 restores the quick single-pass dev loop.
    val basePasses = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt)
      .filter(_ > 0).getOrElse(2)
    // NOISE-ADAPTIVE passes (r18 VERDICT item 4): min-of-2 under a 58.9%
    // contended pass means the published min can rest on a SINGLE clean
    // sample — when the inter-pass spread exceeds the threshold, keep
    // adding passes (bounded) until it settles or the cap is hit, so the
    // min is always corroborated by at least two comparable passes or
    // loudly noted as capped.
    val noiseThresholdPct = sys.env.get("SPARK_GRAFT_NOISE_PCT")
      .map(_.toDouble).getOrElse(25.0)
    val maxPasses = sys.env.get("SPARK_GRAFT_MAX_PASSES").map(_.toInt)
      .getOrElse(basePasses + 2)
    def runPass(): Seq[(String, Double, Boolean)] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        // drop blocks + broadcast/codegen garbage leaked by earlier queries
        drainLeakedBlocks()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e")
            false
          }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    def spreadPct(totals: Seq[Double]): Double =
      if (totals.size < 2 || totals.min <= 0) 0.0
      else math.rint((totals.max - totals.min) / totals.min * 1000) / 10
    // the published number is a MIN, so what must be corroborated is the
    // min: the spread between the two FASTEST pass totals (the all-pass
    // spread would re-trigger forever on the first pass's residual JIT
    // tail at small scales — that pass is expected to be slower)
    def minCorroborationPct(totals: Seq[Double]): Double =
      spreadPct(totals.sorted.take(2))
    var allPasses = Vector.empty[Seq[(String, Double, Boolean)]]
    def addPass(): Unit = {
      val r = runPass()
      allPasses :+= r
      System.err.println(
        f"[bench] pass ${allPasses.size} total ${r.map(_._2).sum}%.1f s")
    }
    (1 to basePasses).foreach(_ => addPass())
    var noiseExtra = 0
    while (basePasses >= 2 && allPasses.size < maxPasses &&
        minCorroborationPct(allPasses.map(_.map(_._2).sum)) > noiseThresholdPct) {
      System.err.println(
        s"[bench] two fastest passes disagree by " +
          s"${minCorroborationPct(allPasses.map(_.map(_._2).sum))}% > " +
          s"$noiseThresholdPct% — the min is uncorroborated; running a " +
          "noise-triggered extra pass")
      addPass()
      noiseExtra += 1
    }
    // min over SUCCESSFUL passes only: a pass that crashes fast must not
    // clobber a valid slower measurement (a failed-everywhere query keeps
    // its min-of-failures time AND sits in `failed` — never silently fast)
    val published = allPasses.head.map(_._1).map { name =>
      val runs = allPasses.map(p => p.find(_._1 == name).get)
      val good = runs.filter(_._3).map(_._2)
      name -> (if (good.nonEmpty) good.min else runs.map(_._2).min)
    }
    val qs = published.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // raw per-pass values for every query — variance inspection without
    // rerunning — with the per-pass ok flag alongside (a fast FAILED pass
    // is otherwise indistinguishable from a fast valid measurement)
    def perQuery[T](f: ((String, Double, Boolean)) => T): Seq[(String, Seq[T])] =
      published.map { case (k, _) =>
        k -> allPasses.map(p => f(p.find(_._1 == k).get))
      }
    val reps = perQuery(_._2).map { case (k, vs) =>
      "\"" + k + "\":[" + vs.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val repsOk = perQuery(_._3).map { case (k, vs) =>
      "\"" + k + "\":[" + vs.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val passTotals = allPasses.map(_.map(_._2).sum)
    val total = published.map(_._2).sum
    val noisePct = spreadPct(passTotals)
    val corrPct = minCorroborationPct(passTotals)
    // `failed` = NO pass succeeded (the published number is a failure
    // time); a query that failed somewhere but has a good min is `flaky`
    // — visible, but not branded as broken forever
    val byOutcome = perQuery(_._3).map { case (k, oks) => (k, oks) }
    val failed = byOutcome.filter(_._2.forall(!_)).map(_._1).sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val flaky = byOutcome.filter(o => o._2.exists(!_) && o._2.exists(identity))
      .map(_._1).sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The driver captures only a few-KB TAIL of stdout: at 320 queries the
    // historical single line (queries+repeats+repeats_ok, tens of KB) was
    // front-truncated and unparseable — BENCH_r18/r19 both carry
    // `parsed: null` (r19 VERDICT "What's wrong" #1 / "Next round" #2).
    // Contract fix, r20: stdout gets ONE COMPACT line (totals, pass noise,
    // failed/flaky, sf, and the path of the full dump) that always fits a
    // tail capture; the complete per-query maps — the same `queries` map as
    // before, no entry removed or renamed — move to BENCH_full.json
    // (`SPARK_GRAFT_BENCH_OUT`), where they have lived since round 9.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""repeats":$reps,"repeats_ok":$repsOk,"passes":${allPasses.size},""" +
      s""""noise_extra_passes":$noiseExtra,""" +
      s""""pass_totals":[${passTotals.mkString(",")}],""" +
      s""""pass_noise_pct":$noisePct,"min_corroboration_pct":$corrPct,""" +
      s""""failed":$failed,"flaky":$flaky,"sf":"$sfDir"}"""
    val compactJson =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${published.size},"passes":${allPasses.size},""" +
      s""""noise_extra_passes":$noiseExtra,""" +
      s""""pass_totals":[${passTotals.mkString(",")}],""" +
      s""""pass_noise_pct":$noisePct,"min_corroboration_pct":$corrPct,""" +
      s""""failed":$failed,"flaky":$flaky,"sf":"$sfDir",""" +
      s""""queries_file":"$out"}"""
    println(compactJson)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), fullJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $out: $e") }
    spark.stop()
  }
}
