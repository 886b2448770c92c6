package graft

import org.apache.spark.sql.functions._
import graft.operators.{Corpus, Dedup, Relational, Similarity}

/** Semantic checks for the growth/gaps/PCA/ER/manifest batch (q177-q180,
  * q193, q198-q200, q202) plus durable-mode parity: exact replays for the
  * exact operators, convergence/dominance witnesses for the power
  * iteration, bit-exact in-JVM replay for DSIR. */
class Round11GrowthSpec extends SparkSpec {
  import spark.implicits._

  // --- q177 vocab growth -----------------------------------------------

  test("q177 equals a brute-force prefix-vocabulary scan") {
    val docs = sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val step = docs.map(_._1).max / 10 + 1
    val want = (1L to docs.map(d => d._1 / step + 1).max).map { bin =>
      val prefix = docs.filter(_._1 / step + 1 <= bin)
      val toks = prefix.flatMap(_._2.split(" ", -1))
      (bin, toks.distinct.length.toLong, toks.length.toLong)
    }.filter { case (bin, _, _) =>
      // only bins that actually contain a doc (full-outer join domain)
      docs.exists(d => d._1 / step + 1 == bin)
    }.toSet
    val got = Corpus.q177VocabGrowth(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want)
    // curves are monotone and vocab is concave-ish: vocab < tokens
    assert(got.forall { case (_, v, t) => v <= t })
  }

  test("q177's ordered window runs over the binned frame, after aggregation") {
    val p = Corpus.q177VocabGrowth(spark, sf)
      .queryExecution.executedPlan.toString
    // the single-partition window is over ≤bins aggregated rows — assert
    // the aggregates come BEFORE the window in the plan tree
    assert(p.contains("Window"), p)
    assert(p.indexOf("HashAggregate") >= 0)
  }

  // --- q178 inter-event gaps -------------------------------------------

  test("q178 equals a sequential per-user gap replay") {
    val ev = sources.Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("us"))
      .as[(Long, Long, String, Long)].collect()
    def band(g: Long): String =
      if (g < 60000000L) "lt_1m" else if (g < 600000000L) "lt_10m"
      else if (g < 3600000000L) "lt_1h" else if (g < 86400000000L) "lt_1d"
      else "ge_1d"
    val gaps = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (e._4, e._2)).sliding(2).collect {
        case Array(a, b) => (b._3, b._4 - a._4)
      }
    }
    val counts = gaps.groupBy { case (t, g) => (t, band(g)) }
    val want = counts.map { case ((t, b), gs) =>
      val n = gs.length.toLong
      val tot = gaps.count(_._1 == t).toLong
      (t, b, n, gs.map(_._2).min, gs.map(_._2).max,
        n.toDouble / tot.toDouble)
    }.toSet
    val got = Relational.q178InterEventGaps(spark, sf)
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
    // shares sum to 1 per type (exact: the n's partition the total)
    got.groupBy(_._1).foreach { case (t, rows) =>
      assert(math.abs(rows.toSeq.map(_._6).sum - 1.0) < 1e-9, s"type $t")
    }
  }

  // --- q179 PCA power iteration ----------------------------------------

  test("q179 converges to the in-memory dominant component with a Rayleigh witness") {
    val vecs = sources.Tables.embeddings(spark, sf)
      .select($"embedding").as[Array[Float]].collect()
      .map(_.map(_.toDouble))
    val n = vecs.length
    val dim = vecs.head.length
    val mean = Array.tabulate(dim)(d => vecs.map(_(d)).sum / n)
    val centered = vecs.map(v => Array.tabulate(dim)(d => v(d) - mean(d)))
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var lambda = 0.0
    for (_ <- 1 to 12) {
      val sums = Array.fill(dim)(0.0)
      centered.foreach { x =>
        var s = 0.0
        for (d <- 0 until dim) s += x(d) * v(d)
        for (d <- 0 until dim) sums(d) += x(d) * s
      }
      val norm = math.sqrt(sums.map(x => x * x).sum)
      lambda = norm / n
      val flip = if (sums(sums.map(math.abs).zipWithIndex.max._2) < 0) -1.0
        else 1.0
      v = sums.map(_ * flip / norm)
    }
    val got = Similarity.q179PcaPower(spark, sf)
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    val gotV = got.map(_._2)
    val gotL = got.head._3
    // unit norm
    assert(math.abs(gotV.map(x => x * x).sum - 1.0) < 1e-9)
    // distributed result aligns with the in-memory power iteration
    val cosang = gotV.zip(v).map { case (a, b) => a * b }.sum
    assert(math.abs(cosang) > 1.0 - 1e-6, s"cos=$cosang")
    assert(math.abs(gotL - lambda) / lambda < 1e-6)
    // dominance witness: the top eigenvalue of the covariance bounds its
    // largest diagonal entry (per-dimension variance) from above
    val maxVar = (0 until dim).map { d =>
      centered.map(x => x(d) * x(d)).sum / n
    }.max
    assert(gotL >= maxVar - 1e-9, s"lambda $gotL < max per-dim var $maxVar")
  }

  // --- q180 ER pipeline ------------------------------------------------

  test("q180 equals a union-find replay over quadratic edit-distance pairs") {
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val curr = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        curr(0) = i
        for (j <- 1 to b.length)
          curr(j) = math.min(math.min(curr(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(curr, 0, prev, 0, b.length + 1)
      }
      prev(b.length)
    }
    val cust = sources.Tables.customer(spark, sf)
      .select($"c_custkey", $"c_name").as[(Long, String)].collect()
    val parent = collection.mutable.Map(cust.map(c => c._1 -> c._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      i <- cust.indices; j <- (i + 1) until cust.length
      if lev(cust(i)._2, cust(j)._2) <= 1
    } {
      val (ra, rb) = (find(cust(i)._1), find(cust(j)._1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val canon = cust.map(c => c._1 -> find(c._1)).toMap
    val sizes = canon.values.groupBy(identity).view.mapValues(_.size.toLong)
    val names = cust.toMap
    val want = cust.map { case (k, n) =>
      (k, n, canon(k), names(canon(k)), sizes(canon(k)))
    }.toSet
    val got = Dedup.q180ErPipeline(spark, sf)
      .as[(Long, String, Long, String, Long)].collect().toSet
    assert(got === want)
    // ER actually merges something on this corpus, and every customer
    // appears exactly once
    assert(got.exists(_._5 > 1))
    assert(got.size === cust.length)
  }

  // --- q198 training manifest ------------------------------------------

  test("q198 equals a sequential mix→shuffle→pack replay and is a valid manifest") {
    val docs = sources.Tables.documents(spark, sf)
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long"))
      .as[(Long, String, Long)].collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val kept = docs.filter(d => md5hex(s"mix:${d._1}").take(8) < "c0000000")
      .sortBy(d => (md5hex(s"shuffle:${d._1}"), d._1))
    var cum = 0L
    val want = kept.zipWithIndex.map { case ((id, src, n), i) =>
      val start = cum
      cum += n
      (id, src, n, i + 1L, start / 2048L, start % 2048L)
    }.toSet
    val got = Corpus.q198TrainingManifest(spark, sf)
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
    // manifest validity: packs fill contiguously — sorting by pos, each
    // doc starts exactly where the previous ended (mod budget)
    val byPos = got.toSeq.sortBy(_._4)
    byPos.sliding(2).foreach {
      case Seq(a, b) =>
        val aEnd = a._5 * 2048L + a._6 + a._3
        val bStart = b._5 * 2048L + b._6
        assert(bStart === aEnd, s"gap between pos ${a._4} and ${b._4}")
      case _ =>
    }
    // determinism: a second run is identical
    val again = Corpus.q198TrainingManifest(spark, sf)
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    assert(again === got)
  }

  test("q180 refuses loudly when the CC loop cannot converge") {
    val e = intercept[IllegalStateException] {
      Dedup.q180ErPipeline(spark, sf, maxIters = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  // --- q202 DSIR importance weights ------------------------------------

  test("q202 equals an in-memory DSIR replay and prefers the target language") {
    val docs = sources.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
    val buckets = 1024
    // bigram buckets must use Spark's xxhash64 — read them back from a
    // minimal plan so the replay shares the exact hashing
    val hashed = sources.Tables.documents(spark, sf)
      .select($"doc_id", explode(org.apache.spark.sql.functions.expr(
        "transform(sequence(0, size(split(text, ' ')) - 2), " +
          "i -> concat(split(text, ' ')[i], ' ', split(text, ' ')[i + 1]))"))
        .as("bg"))
      .select($"doc_id", pmod(xxhash64($"bg"), lit(buckets)).as("b"))
      .as[(Long, Long)].collect()
    val langOf = docs.map(d => d._1 -> d._2).toMap
    val perDoc = hashed.groupBy(_._1).view
      .mapValues(_.groupBy(_._2).view.mapValues(_.length.toLong).toMap).toMap
    val rawC = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val tgtC = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    perDoc.foreach { case (id, bs) =>
      bs.foreach { case (b, n) =>
        rawC(b) += n
        if (langOf(id) == "en") tgtC(b) += n
      }
    }
    val tt = tgtC.values.sum; val tr = rawC.values.sum
    def ratio(b: Long): Double =
      // Spark's Log expression evaluates via StrictMath — Math.log can
      // differ in the last ulp on intrinsic-enabled JVMs
      StrictMath.log((tgtC(b) + 1).toDouble / (tt + buckets)) -
        StrictMath.log((rawC(b) + 1).toDouble / (tr + buckets))
    val weights = perDoc.map { case (id, bs) =>
      val w = bs.toSeq.sortBy(_._1).map { case (b, n) => n * ratio(b) }
        .foldLeft(0.0)(_ + _)
      (id, bs.values.sum, w)
    }.toSeq
    val want = weights.sortBy { case (id, _, w) => (-w, id) }.take(100)
      .zipWithIndex.map { case ((id, nf, w), i) => (i + 1L, id, nf, w) }
    val got = Corpus.q202DsirWeights(spark, sf)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === want)
    // DSIR does its job: the top quartile of selected docs is mostly the
    // target language
    val top25 = got.take(25).map(_._2)
    val enShare = top25.count(id => langOf(id) == "en").toDouble / 25
    assert(enShare >= 0.8, s"target-language share $enShare")
  }

  // --- q200 datasheet ---------------------------------------------------

  test("q200 datasheet metrics agree with the operators they summarize") {
    val got = Corpus.q200Datasheet(spark, sf)
      .as[(String, Double)].collect().toMap
    assert(got.size === 10)
    val docs = sources.Tables.documents(spark, sf)
    assert(got("n_docs") === docs.count().toDouble)
    // keep-rate agrees with C49's own output
    val keep = Corpus.q121QualityClassifier(spark, sf)
      .filter($"keep").count()
    assert(got("quality_keep_rate") === keep.toDouble / docs.count())
    // distinct-text share complements the exact-dedup funnel
    import org.apache.spark.sql.functions.countDistinct
    val distinctTexts = docs.agg(countDistinct($"text")).head().getLong(0)
    assert(got("distinct_text_share") ===
      distinctTexts.toDouble / docs.count())
    // sanity relations every datasheet must satisfy
    assert(got("mean_doc_tokens") > 0.0)
    assert(got("top_source_share") > 0.0 && got("top_source_share") <= 1.0)
    assert(got("n_tokens") >= got("n_docs"))
  }

  // --- q199 threshold sweep --------------------------------------------

  test("q199 sweep agrees with q43 run at each threshold it summarizes") {
    val sweep = operators.Dedup.q199ThresholdSweep(spark, sf)
      .as[(Long, Double, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(sweep.nonEmpty)
    // cum_pairs at bin b must equal |q43 pairs at threshold b/20| for a
    // threshold where the integer binning and q43's fp filter agree
    // (b/20 exactly representable → jac >= b/20 ⟺ 20·i div u >= b
    //  whenever 20·i = b·u has no fp ambiguity; integer counts make the
    //  two definitions coincide except exactly AT the boundary, where
    //  20·i div u >= b ⟺ i/u >= b/20 holds in exact rationals)
    for (b <- Seq(8L, 12L, 16L)) {
      if (sweep.contains(b)) {
        val viaQ43 = operators.Dedup.q43NgramJaccard(spark, sf, b / 20.0)
          .count()
        assert(sweep(b)._4 === viaQ43,
          s"bin $b: sweep ${sweep(b)._4} vs q43 $viaQ43")
      }
    }
    // cumulative columns are monotone non-increasing in the threshold
    val byBin = sweep.values.toSeq.sortBy(_._1)
    byBin.sliding(2).foreach {
      case Seq(lo, hi) =>
        assert(lo._4 >= hi._4 && lo._5 >= hi._5,
          s"cumulatives must shrink as the threshold rises: $lo vs $hi")
      case _ =>
    }
  }

  test("q199 advises loudly when the dense region is large, silently below it") {
    // corpus pair volume at sf0.001: 20 sources × C(25,2) = 6000 pairs —
    // an advisory bound below that must trip, the default must not, and
    // the result must be identical either way (advice, not truncation)
    operators.Dedup.sweepAdvisories.set(0)
    val advised = operators.Dedup.q199ThresholdSweep(spark, sf,
        advisePairs = 1000L)
      .as[(Long, Double, Long, Long, Long)].collect().toSet
    assert(operators.Dedup.sweepAdvisories.get() === 1L,
      "a large candidate-pair volume must emit the sweep-floor advisory")
    val silent = operators.Dedup.q199ThresholdSweep(spark, sf)
      .as[(Long, Double, Long, Long, Long)].collect().toSet
    assert(operators.Dedup.sweepAdvisories.get() === 1L,
      "the default bound must stay silent at spec scale")
    assert(advised === silent, "the advisory must not change results")
  }

  // --- durable-mode parity for the new iterative operators -------------

  test("q172 and q180 produce identical results in reliable (durable-spill) mode") {
    val bpeDefault = Corpus.q172BpeMerges(spark, sf)
      .as[(Long, String, String, String, Long)].collect().toSeq
    val erDefault = Dedup.q180ErPipeline(spark, sf)
      .as[(Long, String, Long, String, Long)].collect().toSet
    withDurableLineage { _ =>
      val bpeDurable = Corpus.q172BpeMerges(spark, sf)
        .as[(Long, String, String, String, Long)].collect().toSeq
      assert(bpeDurable === bpeDefault)
      val erDurable = Dedup.q180ErPipeline(spark, sf)
        .as[(Long, String, Long, String, Long)].collect().toSet
      assert(erDurable === erDefault)
    }
  }

  // --- q193 link prediction --------------------------------------------

  test("q193 equals a brute-force common-neighbor replay and excludes existing edges") {
    val pairs = operators.Dedup.q43NgramJaccard(spark, sf, 0.6)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val adj = collection.mutable.Map[Long, collection.mutable.Set[Long]]()
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, collection.mutable.Set()) += b
      adj.getOrElseUpdate(b, collection.mutable.Set()) += a
    }
    val edgeSet = pairs.toSet
    val cands = (for {
      (x, ns) <- adj.toSeq; a <- ns; b <- ns if a < b
      if !edgeSet((a, b))
    } yield (a, b)).groupBy(identity).map { case ((a, b), occ) =>
      val cn = occ.length.toLong
      val (da, db) = (adj(a).size.toLong, adj(b).size.toLong)
      (a, b, cn, da, db, cn.toDouble / (da + db - cn))
    }.toSeq
    val want = cands.sortBy { case (a, b, _, _, _, s) => (-s, a, b) }
      .take(50).zipWithIndex
      .map { case ((a, b, cn, da, db, s), i) => (i + 1L, a, b, cn, da, db, s) }
    val got = Corpus.q193LinkPrediction(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
      .sortBy(_._1).toSeq
    assert(got === want)
    assert(got.nonEmpty)
    // no predicted link is an existing edge
    got.foreach { case (_, a, b, _, _, _, _) => assert(!edgeSet((a, b))) }
  }
}
