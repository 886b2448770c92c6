package graft

import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, TextAnalysis}

/** Corpus-curation operators: cluster resolution against an independent
  * union-find, vocabulary top-k shape, per-source quota semantics. */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("dup clusters equal an independent union-find over the pair graph") {
    val pairs = Dedup.q43NgramJaccard(spark, sf, threshold = 0.3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = Corpus.q59DupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("reliable mode without a checkpoint dir fails fast with guidance") {
    withLineagePosture("true", checkpointDir = None) {
      val e = intercept[IllegalArgumentException] {
        graft.Lineage.truncate(Seq(1L).toDF("x"))
      }
      assert(e.getMessage.contains("setCheckpointDir"))
      assert(e.getMessage.contains("spark.checkpoint.dir"))
    }
  }

  test("a malformed posture setting throws instead of picking a posture") {
    withLineagePosture("yes", checkpointDir = None) {
      val e = intercept[IllegalArgumentException] {
        graft.Lineage.truncate(Seq(1L).toDF("x"))
      }
      assert(e.getMessage.contains(graft.Lineage.ReliableKey), e.getMessage)
    }
  }

  test("reliable mode produces identical clusters via durable checkpoints") {
    val default = Corpus.q59DupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    withDurableLineage { ckpt =>
      val durable = Corpus.q59DupClusters(spark, sf)
        .as[(Long, Long)].collect().toMap
      assert(durable === default)
      // the final round's durable spill backs the returned frame, so it
      // outlives the call (intermediate rounds are released as the loop
      // advances) until the between-queries drain deletes it
      def spills() = java.nio.file.Files.walk(ckpt)
        .filter(_.getFileName.toString.startsWith("graft-spill-")).count()
      assert(spills() > 0, "the returned labels must be backed by a durable spill")
      assert(Lineage.drainLeaked(spark) > 0)
      assert(spills() === 0L, "drainLeaked must delete every unreleased spill")
    }
  }

  test("cluster rep elects the max-quality member of each cluster") {
    val clusters = Corpus.q59DupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap // doc -> cluster
    val quality = TextAnalysis.q48QualityScore(spark, sf)
      .select($"doc_id", $"quality_score").as[(Long, Double)].collect().toMap
    val reps = Corpus.q69ClusterRep(spark, sf).collect()
    assert(reps.nonEmpty)
    val byCluster = clusters.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    assert(reps.length === byCluster.size, "one row per cluster")
    reps.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val members = byCluster(cid)
      assert(r.getAs[Long]("cluster_size") === members.size)
      // expected rep: max quality, ties to the lowest doc_id
      val expected = members.map(d => (quality(d), d))
        .reduceLeft((a, b) =>
          if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a)
      assert(r.getAs[Long]("rep_doc_id") === expected._2)
      assert(r.getAs[Double]("rep_quality") === expected._1)
      assert(members.contains(r.getAs[Long]("rep_doc_id")))
    }
  }

  test("pack chunks: offsets replay a sequential packer per source") {
    val budget = 256
    val out = Corpus.q71PackChunks(spark, sf, budget).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_no")))
      var cum = 0L
      ordered.foreach { r =>
        assert(r.getAs[Long]("pack_id") === cum / budget)
        assert(r.getAs[Long]("pack_offset") === cum % budget)
        cum += r.getAs[Long]("n_tokens")
      }
    }
    // pack ids are dense from 0 within each source
    out.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val ids = rows.map(_.getAs[Long]("pack_id")).distinct.sorted
      assert(ids.head === 0L)
      assert(ids === (0L until ids.length).toArray.toSeq.sorted, "dense pack ids")
    }
  }

  test("contamination check matches an independent string-gram computation") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 3) Set(t)
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._1 % 37 == 0).flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(_._1 % 37 != 0)
      .map { case (id, t) => id -> grams(t).count(bench) }
      .filter(_._2 > 0).toMap
    val got = Corpus.q68Contamination(spark, sf)
      .select($"doc_id", $"n_shared", $"contaminated")
      .as[(Long, Long, Boolean)].collect()
    assert(got.map(r => r._1 -> r._2.toInt).toMap === expected)
    got.foreach { case (_, n, c) => assert(c === (n >= 3)) }
    assert(got.nonEmpty)
  }

  test("dup clusters on an empty pair graph return empty, not a crash") {
    val got = Corpus.q59DupClusters(spark, sf, threshold = 1.1)
      .as[(Long, Long)].collect()
    assert(got.isEmpty)
  }

  test("top bigrams: counts descend, grams are 2 words, cutoff deterministic") {
    val rows = Corpus.q60TopNgrams(spark, sf, k = 50)
      .as[(String, Long)].collect()
    assert(rows.length === 50)
    assert(rows.map(_._2).sliding(2).forall(w => w(0) >= w(1)),
      "counts must be non-increasing")
    rows.foreach { case (g, _) => assert(g.split(" ", -1).length === 2) }
    val again = Corpus.q60TopNgrams(spark, sf, k = 50).as[(String, Long)].collect()
    assert(rows.toSeq === again.toSeq)
  }

  test("chunking: stride==width chunks reassemble the original text") {
    val chunks = Corpus.q62Chunk(spark, sf, width = 30, stride = 30)
      .select($"doc_id", $"chunk_no", $"chunk_text")
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).mkString(" ")).toMap
    val originals = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(chunks.keySet === originals.keySet)
    chunks.foreach { case (id, rebuilt) => assert(rebuilt === originals(id)) }
  }

  test("chunking: overlapping windows have the declared token counts") {
    val rows = Corpus.q62Chunk(spark, sf, width = 50, stride = 40)
      .select($"chunk_text", $"n_tokens").as[(String, Long)].collect()
    rows.foreach { case (t, n) =>
      assert(t.split(" ", -1).length.toLong === n)
      assert(n <= 50)
    }
  }

  test("bm25: scores match an independent driver-side computation") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val terms = Seq("spark", "join", "window")
    val words = docs.map { case (id, t) => id -> t.split(" ", -1) }
    val n = docs.length.toDouble
    val avgdl = words.map(_._2.length.toLong).sum.toDouble / n
    val tf = words.flatMap { case (id, ws) =>
      terms.map(t => (id, t, ws.count(_ == t).toLong)).filter(_._3 > 0)
    }
    val df = tf.groupBy(_._2).map { case (t, xs) => t -> xs.length.toDouble }
    val expected = tf.groupBy(_._1).map { case (id, xs) =>
      val perTerm = xs.map { case (_, t, f) =>
        val idf = math.sqrt((n - df(t) + 0.5) / (df(t) + 0.5))
        val dl = words.find(_._1 == id).get._2.length.toDouble
        t -> idf * ((f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl / avgdl)))
      }.toMap
      id -> terms.map(t => perTerm.getOrElse(t, 0.0)).reduceLeft(_ + _)
    }
    val top = expected.toSeq.sortBy { case (id, s) => (-s, id) }.take(20)
    val got = Corpus.q74Bm25(spark, sf)
      .select($"doc_id", $"score", $"rk").as[(Long, Double, Long)]
      .collect().sortBy(_._3)
    assert(got.map(_._1).toSeq === top.map(_._1))
    got.zip(top).foreach { case ((_, s, _), (_, e)) =>
      assert(math.abs(s - e) < 1e-12, s"score $s vs expected $e")
    }
    assert(got.map(_._3).toSeq === (1L to 20L))
  }

  test("boilerplate: fractions match independent string-gram counting") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 3) Set(t)
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val byDoc = docs.map { case (id, t) => id -> grams(t) }
    val docFreq = byDoc.flatMap(_._2).groupBy(identity).map { case (g, xs) => g -> xs.length }
    val hot = docFreq.filter(_._2 >= 5).keySet
    val expected = byDoc.map { case (id, gs) =>
      id -> ((gs.size.toLong, gs.count(hot).toLong))
    }.toMap
    val got = Corpus.q75Boilerplate(spark, sf)
      .select($"doc_id", $"n_grams", $"n_boiler", $"boiler_frac", $"drop_doc")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(got.length === expected.size)
    got.foreach { case (id, ng, nb, frac, drop) =>
      assert((ng, nb) === expected(id), s"doc $id")
      assert(frac === nb.toDouble / ng.toDouble)
      assert(drop === (frac > 0.05))
    }
  }

  test("source overlap: jaccard equals driver-side set arithmetic") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"source", $"text").as[(String, String)].collect()
    def grams(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 3) Set(t)
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val bySource = docs.groupBy(_._1).map { case (s, xs) =>
      s -> xs.map(x => grams(x._2)).reduce(_ ++ _)
    }
    val got = Corpus.q76SourceOverlap(spark, sf)
      .as[(String, String, Long, Double)].collect()
    got.foreach { case (a, b, shared, j) =>
      assert(a < b)
      val inter = (bySource(a) & bySource(b)).size.toLong
      assert(shared === inter, s"pair ($a,$b)")
      assert(j === inter.toDouble / (bySource(a).size + bySource(b).size - inter).toDouble)
    }
    // every source pair that shares at least one gram is present
    val expectedPairs = bySource.keys.toSeq.sorted.combinations(2)
      .filter { case Seq(a, b) => (bySource(a) & bySource(b)).nonEmpty }.size
    assert(got.length === expectedPairs)
  }

  test("length trim: kept rows sit inside the per-lang band, outliers out") {
    val all = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"n_chars").as[(Long, String, Long)].collect()
    val kept = Corpus.q77LengthTrim(spark, sf)
      .select($"doc_id", $"lang", $"n_chars", $"lo", $"hi")
      .as[(Long, String, Long, Double, Double)].collect()
    val bands = kept.map(r => r._2 -> ((r._4, r._5))).toMap
    kept.foreach { case (_, _, nc, lo, hi) =>
      assert(nc.toDouble >= lo && nc.toDouble <= hi)
    }
    // the complement is exactly the out-of-band set (for langs with a band)
    val keptIds = kept.map(_._1).toSet
    all.filter(r => bands.contains(r._2)).foreach { case (id, lang, nc) =>
      val (lo, hi) = bands(lang)
      assert(keptIds.contains(id) === (nc.toDouble >= lo && nc.toDouble <= hi))
    }
    // a p5..p95 band keeps roughly 90% of each language
    assert(kept.length.toDouble / all.length.toDouble > 0.8)
  }

  test("substring decontam matches independent char-gram set arithmetic") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(t: String): Set[String] =
      if (t.length < 20) Set(t)
      else (0 to t.length - 20).map(i => t.substring(i, i + 20)).toSet
    val bench = docs.filter(_._1 % 41 == 0).flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(_._1 % 41 != 0)
      .map { case (id, t) => id -> grams(t).count(bench).toLong }
      .filter(_._2 > 0).toMap
    val got = Corpus.q78SubstringDecontam(spark, sf)
      .as[(Long, Long, Boolean)].collect()
    assert(got.map(r => r._1 -> r._2).toMap === expected)
    got.foreach { case (_, ns, c) => assert(c === (ns >= 2)) }
    assert(got.nonEmpty)
  }

  test("corpus stats rollup: subtotals sum their group rows exactly") {
    val rows = Corpus.q79CorpusStats(spark, sf)
      .as[(Option[String], Option[String], Long, Long, Long, Double)].collect()
    val leaves = rows.filter(r => r._1.isDefined && r._2.isDefined)
    val bySource = rows.filter(r => r._1.isDefined && r._2.isEmpty)
    val total = rows.filter(r => r._1.isEmpty && r._2.isEmpty)
    assert(total.length === 1)
    bySource.foreach { s =>
      val mine = leaves.filter(_._1 == s._1)
      assert(s._3 === mine.map(_._3).sum)
      assert(s._4 === mine.map(_._4).sum)
      assert(s._5 === mine.map(_._5).sum)
      assert(s._6 === s._4.toDouble / s._3.toDouble)
    }
    assert(total.head._3 === leaves.map(_._3).sum)
    assert(total.head._5 === leaves.map(_._5).sum)
  }

  test("vocab coverage matches independent top-k vocabulary counting") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val counts = docs.flatMap(_._2.split(" ", -1))
      .groupBy(identity).map { case (w, xs) => w -> xs.length }
    val vocab = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(20).map(_._1).toSet
    val got = Corpus.q80VocabCoverage(spark, sf)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(got.length === docs.length)
    val byId = docs.toMap
    got.foreach { case (id, nt, nv, cov, low) =>
      val ws = byId(id).split(" ", -1)
      assert(nt === ws.length.toLong, s"doc $id n_tokens")
      assert(nv === ws.count(vocab).toLong, s"doc $id n_in_vocab")
      assert(cov === nv.toDouble / nt.toDouble)
      assert(low === (cov < 0.8))
    }
  }

  test("source quota keeps exactly the per-source top by quality") {
    val quota = 5
    val got = Corpus.q61SourceQuota(spark, sf, quota)
      .select($"doc_id", $"source").as[(Long, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val expected = TextAnalysis.q48QualityScore(spark, sf)
      .join(graft.sources.Tables.documents(spark, sf).select($"doc_id", $"source"), "doc_id")
      .select($"doc_id", $"source", $"quality_score").as[(Long, String, Double)].collect()
      .groupBy(_._2).view.mapValues(
        _.sortBy { case (id, _, q) => (-q, id) }.take(quota).map(_._1).toSet).toMap
    assert(got === expected)
    got.values.foreach(v => assert(v.size <= quota))
  }

  test("q111 flags exactly the near-dup pairs straddling the train boundary") {
    val pairs = graft.operators.Dedup.q43NgramJaccard(spark, sf, 0.3)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    val splits = Corpus.q91SplitAssign(spark, sf)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    val expect = pairs.flatMap { case (a, b) =>
      (splits(a) == "train", splits(b) == "train") match {
        case (true, false) => Some((a, b, splits(b)))
        case (false, true) => Some((b, a, splits(a)))
        case _ => None
      }
    }.toSet
    val got = Corpus.q111SplitLeakage(spark, sf)
      .select(col("train_doc"), col("eval_doc"), col("eval_split"))
      .as[(Long, Long, String)].collect().toSet
    assert(got === expect)
    assert(got.nonEmpty, "the duplicative synthetic corpus must show leakage")
    got.foreach { case (t, e, s) =>
      assert(splits(t) === "train" && splits(e) === s && s != "train")
    }
  }

  test("Misra-Gries keeps every key above N/(cap+1) with cap < distinct keys") {
    import graft.functions.HeavyHitters.MisraGries
    // planted Zipf-ish stream: 500 distinct keys, a few heavy ones — the
    // regime the sketch exists for (cap ≪ distinct)
    val data = (0 until 500).flatMap { i =>
      val freq = if (i < 5) 400 else if (i < 50) 20 else 2
      Seq.fill(freq)(s"w$i")
    }
    val n = data.size.toLong
    val cap = 64
    val ds = spark.createDataset(data)(org.apache.spark.sql.Encoders.STRING)
      .repartition(7) // force partial buffers + merges
    val (summary, total) = ds.select(new MisraGries(cap).toColumn).head()
    assert(summary.size <= cap, "summary must respect the cap")
    assert(total === n, "the buffer-carried N must be the exact stream size")
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = n / (cap + 1)
    exact.filter(_._2 > bound).keys.foreach { k =>
      assert(summary.contains(k), s"key $k above the MG bound must survive")
    }
    summary.foreach { case (k, c) =>
      assert(c <= exact(k), s"MG counter for $k can only undercount")
      assert(exact(k) - c <= bound, s"undercount of $k exceeds N/(cap+1)")
    }
  }

  test("q115 equals the exact top-k and refuses an unprovable cap loudly") {
    val got = Corpus.q115HeavyHitters(spark, sf)
      .as[(String, Long)].collect().toSeq
    val exact = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ", -1)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect()
      .sortBy { case (w, c) => (-c, w) }.take(20).toSeq
    assert(got === exact)
    // a cap too small to prove exactness must throw, not return approximate
    val e = intercept[IllegalStateException] {
      Corpus.q115HeavyHitters(spark, sf, k = 20, cap = 2)
    }
    assert(e.getMessage.contains("raise cap"))
  }

  test("q109 shuffle order is a deterministic permutation") {
    val a = Corpus.q109ShuffleOrder(spark, sf)
      .select(col("doc_id"), col("position"))
      .as[(Long, Long)].collect()
    assert(a.map(_._2).sorted.toSeq === (1L to a.length).toSeq, "positions are a permutation")
    val b = Corpus.q109ShuffleOrder(spark, sf)
      .select(col("doc_id"), col("position"))
      .as[(Long, Long)].collect()
    assert(a.toMap === b.toMap, "re-running must give the identical order")
    // the hash order differs from the natural doc_id order (it shuffles)
    assert(a.sortBy(_._1).map(_._2).toSeq !== (1L to a.length).toSeq)
  }

  test("q110 pipeline fuses five stages into a one-shuffle plan") {
    val df = Corpus.q110CuratePipeline(spark, sf)
    val p = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).length
    assert(exchanges === 1,
      s"normalize/score/filter/split/count must fuse map-side around ONE dedup shuffle:\n$p")
    // stage consistency: every survivor clears the quality floor, content
    // hashes are unique post-dedup, and splits match q91's pure function
    val rows = df.select(col("doc_id"), col("split"), col("quality_score"))
      .as[(Long, String, Double)].collect()
    assert(rows.nonEmpty && rows.forall(_._3 >= 4.8))
    val splits = Corpus.q91SplitAssign(spark, sf)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    rows.foreach { case (id, sp, _) => assert(sp === splits(id), s"split of $id") }
  }
}
