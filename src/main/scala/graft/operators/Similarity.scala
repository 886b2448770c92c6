package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.sources.Tables

/**
 * Similarity search over embedding columns.
 *
 * Scale design: the query set is small and broadcast; the corpus streams
 * through a map-only scan (brute force) or is pruned by hyperplane-LSH
 * buckets first (approximate path). Top-k per query is the bounded heap
 * aggregate ([[graft.functions.TopKByScore]]) — k slots of state per
 * query per partition and never a sort of the scored pair stream, the
 * exact shape a 1000-executor scan wants. Scores are codegen'd native
 * kernels; no UDF.
 */
object Similarity {

  /** Top-k neighbors per query by exact cosine (the recall=1 baseline).
    * Norms are computed once per corpus row and once per query, not per
    * pair — identical doubles, ~3× less fp work on the |corpus|×|queries|
    * scored frame.
    *
    * Two scale decisions live here (shared by every brute-force consumer):
    * the corpus side is REPARTITIONED to the session width before the pair
    * scan — a parquet scan of a few splits otherwise caps the all-pairs
    * stage's parallelism at the file count — and top-k runs as
    * [[graft.functions.TopKByScore]], a bounded per-query heap aggregate,
    * NOT a row_number window: the window form local-sorts the whole
    * |corpus|×|queries| scored stream per map task (at the 200k brute gate
    * that is a 4·10¹⁰-row spill-sort — hours), the heap keeps k slots per
    * query and ships k entries per query per partition. Ordering is
    * bit-identical to `ORDER BY score DESC, neighbor_id ASC`. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val base = corpus.select(col("vec_id"), toDoubles(col("embedding")).as("emb"),
      l2Norm(col("embedding")).as("norm"))
    // floor, not a flat width: a small corpus parquet scan arrives as a
    // handful of file splits that would cap the pair scan's parallelism,
    // but a big scan already carries more partitions than the session
    // width — repartitioning THAT down would be the opposite bug
    val parts = graft.GraftSession.shufflePartitions(corpus.sparkSession)
    val c = if (base.rdd.getNumPartitions >= parts) base
      else base.repartition(parts)
    val q = queries.select(col("vec_id"), toDoubles(col("embedding")).as("emb"),
      l2Norm(col("embedding")).as("norm"))
    val scored = c.as("c")
      .join(broadcast(q.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        (dotD(col("q.emb"), col("c.emb"))
          / (col("q.norm") * col("c.norm"))).as("score"))
    graft.functions.TopKByScore.topK(scored,
      col("query_id"), col("neighbor_id"), col("score"), k)
  }

  // ---------------------------------------------------------------- C6
  def q45AnnBruteforce(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    bruteForceTopK(e, e.filter(col("vec_id") < 5), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  // ---------------------------------------------------------------- C20
  /** Brute-force ANN over an int8-QUANTIZED corpus — the storage scale
    * path: 1 B/dim + one float per vector (4× smaller than fp32), which at
    * 100 TB is the difference between an embedding corpus that fits the
    * cluster's disks/interconnect and one that doesn't. The corpus is
    * quantized once ([[graft.functions.VectorFunctions.quantize8]],
    * max-abs symmetric, per-element error ≤ scale/2) and dequantized on
    * the fly inside the same broadcast scan as q45; SimilaritySpec asserts
    * top-k overlap against the full-precision baseline. */
  def q67QuantizedAnn(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qz = e.select(col("vec_id"), quantize8(col("embedding")).as("qv"))
      .select(col("vec_id"), dequantize8(col("qv")).as("emb"))
      .select(col("vec_id"), col("emb"),
        sqrt(dotD(col("emb"), col("emb"))).as("norm"))
    val queries = qz.filter(col("vec_id") < 5)
    val scored = qz.as("c")
      .join(broadcast(queries.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        (dotD(col("q.emb"), col("c.emb"))
          / (col("q.norm") * col("c.norm"))).as("score"))
    graft.functions.TopKByScore.topK(scored,
      col("query_id"), col("neighbor_id"), col("score"), k)
  }

  // ---------------------------------------------------------------- C7
  /** LSH-bucketed ANN: corpus is pre-bucketed by hyperplane signs; a query
    * scans its own bucket plus (multi-probe) the nPlanes buckets one
    * bit-flip away — the vectors most likely lost to a borderline
    * hyperplane sign. Probing is a map-side explode of the tiny query set
    * (×(nPlanes+1)); each corpus row lives in exactly one bucket, so a
    * candidate can match at most one probe — no dedup join needed. Recall
    * vs the brute-force baseline is asserted in SimilaritySpec; as nPlanes
    * grows, multi-probe keeps recall from cliffing while the scanned
    * fraction stays ≈(nPlanes+1)/2^nPlanes. */
  def q46AnnLsh(spark: SparkSession, dir: String, k: Int = 10, nPlanes: Int = 8,
      multiProbe: Boolean = true): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val withBucket = e
      .withColumn("bucket", bucketExpr(col("embedding"), nPlanes))
      .withColumn("norm", l2Norm(col("embedding")))
      .withColumn("emb", toDoubles(col("embedding")))
    val flips = transform(sequence(lit(0), lit(nPlanes - 1)),
      p => col("bucket").bitwiseXOR(
        call_function("shiftleft", lit(1L), p.cast("int"))))
    val probeSet =
      if (multiProbe) concat(array(col("bucket")), flips) else array(col("bucket"))
    val queries = withBucket.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm"), explode(probeSet).as("bucket"))
    val scored = withBucket.as("c")
      .join(broadcast(queries), Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dotD(col("q_emb"), col("emb")) / (col("q_norm") * col("norm"))).as("score"))
    graft.functions.TopKByScore.topK(scored,
      col("query_id"), col("neighbor_id"), col("score"), k)
  }

  // ---------------------------------------------------------------- C7b
  /** IVF (inverted-file) ANN, split the way a production index is: build
    * once, query many times ([[IvfIndex.build]] / [[IvfIndex.query]]). The
    * bench/oracle query builds then probes so the measured cost is honest,
    * but nothing forces them together — build can be persisted
    * ([[IvfIndex.save]]/[[IvfIndex.load]]) and amortized across query sets. */
  def q51AnnIvf(spark: SparkSession, dir: String, k: Int = 10,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val index = IvfIndex.build(e, nCells)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), toDoubles(col("embedding")).as("q_emb"),
        l2Norm(col("embedding")).as("q_norm"))
    IvfIndex.query(index, queries, k, nProbe, excludeSelf = true)
  }

  // ---------------------------------------------------------------- C42
  /** All-vectors kNN GRAPH — every vector's top-k cosine neighbors, the
    * structure semantic-dedup and diversity-sampling pipelines build over
    * the whole corpus (vs. q45/q51's few-queries lookup). Brute force is
    * O(n²); this blocks by IVF cells: each vector joins only the vectors of
    * its `nProbe` nearest cells.
    *
    * Scale shape differs from [[IvfIndex.query]] deliberately: there the
    * QUERY side broadcasts (small lookup set); here queries ARE the corpus,
    * so probes ⋈ assignments is a SHUFFLE hash join keyed on cell — both
    * sides |corpus|-sized, no broadcast of anything but the (nCells × dim)
    * centroid table. A (query, neighbor) pair meets in at most ONE probed
    * cell (one cell per corpus vector, distinct probes per query), so the
    * join output feeds the bounded top-k aggregate directly. Hot cells
    * (the skew hazard: cell size ~ data density) ride the cell-key
    * shuffle; salt the assignment side if one cell dominates — same
    * discipline as Skew.saltedSelfPairs.
    *
    * Recall is probe-bounded exactly like q51's lookup — the spec asserts
    * the same ≥0.4 mean-recall floor as q51's nProbe=4/16 regime vs brute
    * force (raise nProbe for more); fp scores → rows-only + spec. */
  def q106KnnGraph(spark: SparkSession, dir: String, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4): DataFrame =
    allVectorsTopK(Tables.embeddings(spark, dir), k, nCells, nProbe)

  /** THE shared size-gated candidate provider for every "queries ARE the
    * corpus" consumer (q183 classify, q239 purity, q244 confusion via
    * q183): under `bruteForceMax` rows the exact brute-force scan runs
    * with a broadcast BOUNDED BY THE GATE (the recall=1 oracle-able
    * regime); past it [[allVectorsTopK]]'s IVF-cell shuffle join swaps in
    * — nothing corpus-sized is ever broadcast. One gate, one count (a
    * parquet-metadata pass), so a future scale fix lands once for the
    * whole eval family (Round13ScaleSpec pins each consumer's plan). */
  private[operators] def gatedAllVectorsTopK(e: DataFrame, k: Int,
      bruteForceMax: Long, nCells: Int, nProbe: Int): DataFrame = {
    val n = e.count()
    if (n <= bruteForceMax) bruteForceTopK(e, e, k)
    else allVectorsTopK(e, k, nCells, nProbe)
  }

  /** The q106 cell-blocked all-vectors top-k, factored out so every
    * "queries ARE the corpus" consumer (q106's kNN graph, q183's
    * leave-one-out classifier) shares the one scale-safe shape: shuffle
    * join on cell, centroids-only broadcast, bounded heap top-k
    * ([[graft.functions.TopKByScore]] — never a candidate-stream sort).
    * Returns `(query_id, rank, neighbor_id, score)`, self excluded. */
  private[operators] def allVectorsTopK(e: DataFrame, k: Int,
      nCells: Int, nProbe: Int): DataFrame = {
    val built = IvfIndex.build(e, nCells)
    // assignments feed BOTH join sides (probes + candidates) — materialize
    // once or the KMeans transform + decode re-executes per reference
    val assignments = graft.Lineage.truncate(
      built.assignments, eager = false).df
    val index = built.copy(assignments = assignments)
    // the probe side reuses the decoded emb/norm the index build already
    // produced — no second corpus scan or float→double/norm pass
    val vecs = assignments.select(col("vec_id"),
      col("emb").as("q_emb"), col("norm").as("q_norm"))
    val d2 = aggregate(
      zip_with(col("q_emb"), col("centroid"), (a, b) => (a - b) * (a - b)),
      lit(0.0), _ + _)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("cell").asc)
    val probes = vecs.crossJoin(broadcast(index.centroids))
      .withColumn("d2", d2)
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("vec_id").as("query_id"), col("q_emb"), col("q_norm"), col("cell"))
    val scored = index.assignments.as("c")
      .join(probes.as("q"), Seq("cell")) // shuffle join on cell — both sides big
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dotD(col("q_emb"), col("emb")) / (col("q_norm") * col("norm"))).as("score"))
    // No pair-dedup stage: each corpus vector holds exactly ONE cell row
    // (assignments are keyed by vec_id) and probes are distinct
    // (query, cell) rows, so a (query, neighbor) pair meets in at most one
    // probed cell — the old pair-keyed groupBy was a full candidate-stream
    // shuffle buying nothing (SimilaritySpec pins candidate uniqueness).
    // Top-k is the bounded heap aggregate, not a candidate-stream window
    // sort — see bruteForceTopK.
    graft.functions.TopKByScore.topK(scored,
      col("query_id"), col("neighbor_id"), col("score"), k)
  }

  /** q171's scaled-arm candidate generator: IVF-cell-blocked CROSS-SIDE
    * scored pairs `(vec_a, vec_b, cosine)` — [[allVectorsTopK]]'s shuffle
    * machinery with the pair space restricted to opposite sides of
    * `sideExpr`. Probed from BOTH directions (A probing B's cells ∪ B
    * probing A's cells) so the candidate set is direction-symmetric — the
    * mutual-top-1 filter downstream sees the same pair whichever side
    * found it; a pair met twice collapses via a pair-keyed first-score
    * aggregation (cosine is bit-identical in either direction: fp multiply
    * is commutative, the dot fold is by index). Nothing is broadcast but
    * the (nCells × dim) centroid table; the cell join is a shuffle hash
    * join with both sides corpus-sized. With nProbe = nCells the pair set
    * is ALL cross pairs — bit-equal to the brute arm (Round13ScaleSpec). */
  private[operators] def cellBlockedCrossScores(corpus: DataFrame, sideExpr: Column,
      nCells: Int, nProbe: Int): DataFrame = {
    val side = corpus.select(col("vec_id"), sideExpr.as("sideA"))
    val built = IvfIndex.build(corpus, nCells)
    val assignments = graft.Lineage.truncate(
      built.assignments.join(side, Seq("vec_id")), eager = false).df
    val d2 = aggregate(
      zip_with(col("q_emb"), col("centroid"), (a, b) => (a - b) * (a - b)),
      lit(0.0), _ + _)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("cell").asc)
    val probes = assignments
      .select(col("vec_id"), col("sideA"),
        col("emb").as("q_emb"), col("norm").as("q_norm"))
      .crossJoin(broadcast(built.centroids))
      .withColumn("d2", d2)
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("vec_id"), col("sideA"), col("q_emb"), col("q_norm"),
        col("cell"))
    // probes feed BOTH union branches — materialize once, or the
    // centroid cross + probe window re-executes per direction
    val probesM = graft.Lineage.truncate(probes, eager = false).df
    def pairs(probeSideA: Boolean): DataFrame = {
      val p = probesM.filter(if (probeSideA) col("sideA") else !col("sideA"))
        .select(col("vec_id").as("p_id"), col("q_emb"), col("q_norm"),
          col("cell"))
      val c = assignments
        .filter(if (probeSideA) !col("sideA") else col("sideA"))
        .select(col("vec_id").as("c_id"), col("emb"), col("norm"), col("cell"))
      c.join(p, Seq("cell")) // shuffle join on cell — both sides big
        .select(
          (if (probeSideA) col("p_id") else col("c_id")).as("vec_a"),
          (if (probeSideA) col("c_id") else col("p_id")).as("vec_b"),
          (dotD(col("q_emb"), col("emb"))
            / (col("q_norm") * col("norm"))).as("cosine"))
    }
    pairs(probeSideA = true).unionAll(pairs(probeSideA = false))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(first(col("cosine")).as("cosine"))
  }

  /** bucket = Σ_p (dot(v, plane_p) > 0) << p — built from nested codegen'd
    * higher-order functions, one pass over the vector per plane. */
  def bucketExpr(vec: Column, nPlanes: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(nPlanes - 1)), p => {
        val d = aggregate(
          zip_with(toDoubles(vec), sequence(lit(0), size(vec) - 1),
            (x, i) => x * planeComponent0(p, i)),
          lit(0.0), _ + _)
        when(d > 0, call_function("shiftleft", lit(1L), p.cast("int"))).otherwise(lit(0L))
      }),
      lit(0L), (acc, v) => acc + v)

  private def planeComponent0(plane: Column, dim: Column): Column =
    (pmod(xxhash64(plane, dim), lit(100000L)).cast("double") / 100000.0) - 0.5

  // ---------------------------------------------------------------- C50
  /** Semantic dedup (the SemDeDup recipe): cluster the embedding corpus
    * with the IVF coarse quantizer, then inside each cluster drop every
    * vector that has a LOWER-id cellmate with cosine ≥ `threshold` —
    * near-identical meaning expressed with different tokens, which
    * hash/shingle dedup (C1-C4) cannot see. Greedy-by-id gives a
    * deterministic survivor set (the id-minimal element of every
    * within-cell similarity neighborhood survives) without iterating to a
    * fixpoint the way full clustering (C13) does — exactly the published
    * SemDeDup procedure, which accepts cross-cell duplicates as the price
    * of bounding the pair space.
    *
    * Scale: the quadratic is confined to cells — SIZE `nCells` so cells
    * run ~10⁴ vectors (nCells ≈ corpus/10⁴) and the cost is
    * nCells·(corpus/nCells)², the SemDeDup operating point; pair
    * generation reuses the salted self-pair machinery (triangle salting
    * spreads each cell's quadratic over the cluster, `maxBlock` excludes
    * degenerate cells loudly). A vector in an EXCLUDED cell got no pair
    * verdicts at all, so its `is_dup` is NULL ("unknown") — never a
    * silent false ("survivor"): a caller keeping `is_dup = false` rows
    * drops unknowns by default, and one that wants them must say
    * `is_dup IS NOT TRUE` explicitly. The assignments frame feeds three
    * plan branches (both self-pair sides + the verdict join), so it is
    * materialized ONCE (q106's rule — without it the seeded KMeans
    * transform and emb/norm decode re-execute per reference). Norms and
    * float→double casts are hoisted per vector at build time (q44's
    * rule); the verdict join is a hash join on vec_id. Rows-only in the
    * driver (k-means cells aren't SQL-expressible) — the spec replays the
    * whole procedure brute-force per cell and checks exact set equality.
    * The default threshold sits in THIS corpus's near-dup regime (q44's
    * cosine range — the synthetic embeddings never exceed ~0.51); real
    * sentence embeddings run the published ~0.95. */
  def q122SemanticDedup(spark: SparkSession, dir: String,
      nCells: Int = 8, threshold: Double = 0.35,
      maxBlock: Int = 100000): DataFrame = {
    val idx = IvfIndex.build(Tables.embeddings(spark, dir), nCells)
    val a = graft.Lineage.truncate(
      idx.assignments.select(
        col("vec_id"), col("cell"), col("emb"), col("norm")),
      eager = false).df
    val dup = Skew.saltedSelfPairs(a, "cell", "vec_id", salts = 4,
        maxBlock = maxBlock)
      .filter((dotD(col("a.emb"), col("b.emb"))
        / (col("a.norm") * col("b.norm"))) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    // over-cap cells carry an explicit unknown marker — ≤nCells rows,
    // broadcast by construction
    val unknown = Skew.oversizeBlocks(a, "cell", maxBlock)
      .select(col("cell"), lit(true).as("__unk"))
    a.select(col("vec_id"), col("cell"))
      .join(dup, Seq("vec_id"), "left")
      .join(broadcast(unknown), Seq("cell"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("__unk"), lit(null).cast("boolean"))
          .otherwise(coalesce(col("__dup"), lit(false))).as("is_dup"))
  }

  // ---------------------------------------------------------------- C59
  /** Product-quantization ANN ([[PqIndex]]) — the memory-bandwidth scale
    * path past q67's int8: the query scan reads m code bytes + a norm per
    * vector (32× under fp32 at 64-dim/m=8/k=16) and scores candidates via
    * per-query lookup tables instead of per-pair dot products. Build and
    * query are split like q51's IVF; approximate scores → rows-only, with
    * SimilaritySpec asserting recall vs brute force and replaying the ADC
    * arithmetic exactly. */
  def q146PqAnn(spark: SparkSession, dir: String, k: Int = 10,
      m: Int = 8, codewords: Int = 16, rerank: Int = 4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val index = PqIndex.build(e, dim, m, codewords)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        toDoubles(col("embedding")).as("q_emb"),
        l2Norm(col("embedding")).as("q_norm"))
    PqIndex.query(index, queries, k, excludeSelf = true,
      rerank = rerank, fullVectors = e)
  }

  // ---------------------------------------------------------------- C66
  /** Hard-negative mining — the contrastive-training data pipeline
    * (sentence-embedding / retrieval-model training needs, per anchor, the
    * negatives the model most confuses: DIFFERENT label, HIGHEST cosine):
    * for each anchor, the top-`k` other-label vectors by similarity, with
    * a `dupCeiling` guard excluding score ≥ ceiling pairs — those are
    * near-duplicates mislabeled across classes (SemDeDup territory, q122),
    * poison as negatives.
    *
    * Scale: identical posture to q45's brute-force baseline — the anchor
    * set broadcasts, the corpus streams map-only through one codegen'd
    * dot-product scan, top-k per anchor is the bounded heap aggregate
    * ([[graft.functions.TopKByScore]] — k slots per anchor per partition,
    * no pair-stream sort). Swap the scan for
    * [[IvfIndex]] probing (q51) when the corpus outgrows linear — the
    * ranking semantics and this oracle stay fixed. Norms computed once per
    * side, never per pair. */
  def q161HardNegatives(spark: SparkSession, dir: String, k: Int = 10,
      dupCeiling: Double = 0.95): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val c = e.select(col("vec_id"), col("label"),
      toDoubles(col("embedding")).as("emb"),
      l2Norm(col("embedding")).as("norm"))
    val q = c.filter(col("vec_id") < 5)
    val scored = c.as("c")
      .join(broadcast(q.as("q")), col("q.label") =!= col("c.label"))
      .select(
        col("q.vec_id").as("anchor_id"),
        col("c.vec_id").as("negative_id"),
        (dotD(col("q.emb"), col("c.emb"))
          / (col("q.norm") * col("c.norm"))).as("score"))
      .filter(col("score") < dupCeiling)
    graft.functions.TopKByScore.topK(scored,
        col("anchor_id"), col("negative_id"), col("score"), k)
      .select(col("query_id").as("anchor_id"), col("rank"),
        col("neighbor_id").as("negative_id"), col("score"))
  }

  // ---------------------------------------------------------------- C70
  /** Mutual-nearest-neighbor bitext mining (the LASER/CCMatrix parallel-
    * corpus alignment core): side A = even labels, side B = odd labels
    * (the two-language stand-in this corpus affords); a pair aligns when
    * each vector is the OTHER side's cosine top-1 — the mutual condition
    * is what kills the hub problem (a B-vector near everything wins many
    * forward top-1s but can return at most one).
    *
    * Scale: the scored frame is built ONCE and materialized (both argmax
    * passes read it — without truncation the candidate join re-executes
    * per direction). Candidate generation is SIZE-GATED: under
    * `bruteForceMax` rows the exact brute-force cross runs (the recall=1
    * oracle-able baseline, its side-B broadcast BOUNDED BY THE GATE);
    * past it [[cellBlockedCrossScores]] swaps in — q106's IVF-cell
    * shuffle machinery restricted to cross-side pairs, probed from BOTH
    * directions so the candidate set is direction-symmetric, nothing
    * broadcast but the centroid table. The mutual `max(struct)` passes
    * read a generic (vec_a, vec_b, cosine) frame and are IDENTICAL in
    * both arms; with nProbe=nCells the arms are bit-equal
    * (Round13ScaleSpec). Each direction's top-1 is ONE `max(struct)`
    * partial aggregate — never a per-side sort. Tie-break inside the
    * struct is (score, partner_id) — total, engine-identical (q44's fp
    * parity; cosine is direction-independent bit-for-bit because fp
    * multiply is commutative and the fold order is by index). */
  def q171BitextMnn(spark: SparkSession, dir: String,
      bruteForceMax: Long = 200000L, nCells: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    val n = raw.count()
    val scored0 =
      if (n <= bruteForceMax) {
        val e = raw.select(col("vec_id"),
          toDoubles(col("embedding")).as("emb"),
          l2Norm(col("embedding")).as("norm"),
          (col("label") % 2 === 0).as("sideA"))
        val a = e.filter(col("sideA")).select(col("vec_id").as("vec_a"),
          col("emb").as("ea"), col("norm").as("na"))
        val b = e.filter(!col("sideA")).select(col("vec_id").as("vec_b"),
          col("emb").as("eb"), col("norm").as("nb"))
        a.crossJoin(broadcast(b)).select(col("vec_a"), col("vec_b"),
          (dotD(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      } else cellBlockedCrossScores(raw,
        (col("label") % 2 === 0), nCells, nProbe)
    val scored = graft.Lineage.truncate(scored0, eager = false).df
    val bestA = scored.groupBy(col("vec_a"))
      .agg(max(struct(col("cosine"), col("vec_b"))).as("m"))
      .select(col("vec_a"), col("m.vec_b").as("vec_b"))
    val bestB = scored.groupBy(col("vec_b"))
      .agg(max(struct(col("cosine"), col("vec_a"))).as("m"))
      .select(col("m.vec_a").as("vec_a"), col("vec_b"))
    bestA.join(bestB, Seq("vec_a", "vec_b"), "left_semi")
      .join(scored, Seq("vec_a", "vec_b"))
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  // ---------------------------------------------------------------- C72
  /** MMR-diversified retrieval (Carbonell & Goldstein 1998 — the rerank
    * every RAG/eval-set sampler runs so top-k isn't k near-copies of the
    * best hit): shortlist the `r` highest-cosine candidates, then greedily
    * select k maximizing `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`.
    *
    * Scale split: the RELEVANCE scan is the distributed part — map-only
    * broadcast-query cosine over the whole corpus. The broadcast side is
    * ONE query row — bounded by construction, not by a gate — so this is
    * the scale-safe baseline BY DESIGN (no swap exists or is needed; a
    * caller with a large corpus can feed the shortlist from
    * [[IvfIndex.query]] instead, the greedy phase is agnostic to where
    * the r candidates came from). The shortlist is cut by
    * `.orderBy().limit(r)` (TakeOrdered, never a global sort). The greedy
    * phase is sequential BY DEFINITION (each pick depends on all previous
    * picks), over a CONSTANT-bound r·dim frame — that is a bounded
    * driver-side aggregate (the repo's ≤k-row collect rule), not a
    * distributed-work smell; r never grows with the corpus. Ties at equal
    * MMR score break by vec_id asc — deterministic. Driver-only iteration
    * → rows-only + exact in-memory replay spec. */
  def q173MmrRerank(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, r: Int = 50, lambda: Double = 0.7): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select(col("vec_id"),
      toDoubles(col("embedding")).as("emb"), l2Norm(col("embedding")).as("norm"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("emb").as("qe"), col("norm").as("qn"))
    val shortlist = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("emb"), col("norm"),
        (dotD(col("qe"), col("emb")) / (col("qn") * col("norm"))).as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(r)
      .select(col("vec_id"), col("emb"), col("norm"), col("rel"))
      .as[(Long, Array[Double], Double, Double)]
      .collect() // bounded: r rows, constant
    def cos(a: (Long, Array[Double], Double, Double),
        b: (Long, Array[Double], Double, Double)): Double = {
      var d = 0.0
      var i = 0
      while (i < a._2.length) { d += a._2(i) * b._2(i); i += 1 }
      d / (a._3 * b._3)
    }
    val chosen = collection.mutable.ArrayBuffer[(Long, Array[Double], Double, Double)]()
    val out = collection.mutable.ArrayBuffer[(Long, Long, Double, Double)]()
    val remaining = collection.mutable.ArrayBuffer(shortlist: _*)
    while (out.length < k && remaining.nonEmpty) {
      val (score, c) = remaining.map { c =>
        val div = if (chosen.isEmpty) 0.0 else chosen.map(cos(c, _)).max
        (lambda * c._4 - (1 - lambda) * div, c)
      }.minBy { case (s, c) => (-s, c._1) }
      out += ((out.length + 1L, c._1, c._4, score))
      chosen += c
      remaining -= c
    }
    out.toSeq.toDF("rank", "vec_id", "relevance", "mmr_score")
  }

  // ---------------------------------------------------------------- C85
  /** Retrieval-quality evaluation of the ANN surface (the report that
    * justifies k, the index type, and every recall-for-speed trade this
    * repo documents): per query, precision@k and the reciprocal rank of
    * the first relevant hit, with relevance = label match (the standard
    * proxy when no human judgments exist). Emits PER-QUERY rows, not a
    * corpus mean — 1/rank is an exact rational per query, but a mean
    * over queries would be an unordered fp sum (q93's rule: the consumer
    * averages, or sums the exact integer numerators). NDCG is
    * deliberately absent: its log2 discount is not IEEE-exact
    * cross-engine (q86's ln rule).
    *
    * Scale: q45's brute-force scoring scan (the recall=1 baseline being
    * evaluated); metrics are a per-query k-row aggregate. */
  def q195RetrievalEval(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 20): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val labels = e.select(col("vec_id"), col("label"))
    val topk = bruteForceTopK(e, e.filter(col("vec_id") < nQueries), k)
    topk
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("qlabel")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), Seq("neighbor_id"))
      .withColumn("rel", col("nlabel") === col("qlabel"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_retrieved"),
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_relevant"),
        min(when(col("rel"), col("rank"))).as("first_rel_rank"))
      .select(col("query_id"), col("n_retrieved"), col("n_relevant"),
        (col("n_relevant").cast("double") / col("n_retrieved").cast("double"))
          .as("precision_at_k"),
        col("first_rel_rank"),
        (lit(1.0) / col("first_rel_rank").cast("double"))
          .as("reciprocal_rank"))
  }

  // ---------------------------------------------------------------- C79
  /** kNN label classification with leave-one-out evaluation (the
    * weak-supervision primitive: propagate labels through embedding
    * space, and the standard "are these embeddings any good" probe): each
    * vector is classified by the majority label of its `k` nearest OTHER
    * vectors by cosine; its own label is the held-out truth. Vote ties
    * break (higher count, lower label) — total, engine-identical.
    *
    * Scale: SIZE-GATED candidate generation. Under `bruteForceMax` rows
    * the scorer is exact brute force with the query side broadcast — a
    * broadcast BOUNDED BY THE GATE, not by luck (the recall=1 oracle-able
    * regime, and what the sf0.01 oracle exercises). PAST the gate the
    * corpus must never be replicated to every executor, so the candidate
    * scan swaps to q106's cell-blocked machinery ([[allVectorsTopK]]):
    * IVF cells, shuffle hash join keyed on cell with both sides
    * |corpus|-sized, nothing broadcast but the (nCells × dim) centroid
    * table — the key-ranged-scan posture, probe-bounded recall. The
    * leave-one-out exclusion and the exact two-level vote tie-break
    * (more votes, then lower label) are IDENTICAL in both arms — the arm
    * only changes which pairs get scored. With `nProbe = nCells` the IVF
    * arm probes every cell and is bit-equal to brute force
    * (Round12ScaleSpec asserts exactly that, plus that the scaled arm's
    * plan shuffles on cell instead of broadcasting the corpus).
    * The count() gate is one parquet-metadata pass, same as
    * [[IvfIndex.build]]'s. Vote is one partial-agged groupBy over n·k
    * rows; label attachment is a hash join on vec_id (corpus-sized both
    * sides — AQE may legitimately broadcast it at small sf; no hint). */
  def q183KnnClassify(spark: SparkSession, dir: String, k: Int = 5,
      bruteForceMax: Long = 200000L, nCells: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    val topk = gatedAllVectorsTopK(raw, k, bruteForceMax, nCells, nProbe)
    val labels = raw.select(col("vec_id"), col("label"))
    val votes = topk
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("qlabel")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("qlabel"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nlabel").asc)
    votes.withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
      .select(col("query_id").as("vec_id"), col("qlabel").as("true_label"),
        col("nlabel").as("pred_label"), col("votes"),
        (col("nlabel") === col("qlabel")).as("correct"))
  }

  // ---------------------------------------------------------------- C96
  /** Embedding-dimension ablation (the Matryoshka question: how much
    * retrieval quality survives truncating vectors to their first d
    * dimensions — what decides whether the 100 TB index stores 64 floats
    * or 16): per candidate d, each query's truncated-cosine top-k is
    * scored by its overlap with the FULL-dimension top-k (recall@k). Rows
    * stay PER QUERY (q195's rule — a corpus mean would be an unordered fp
    * sum); overlap counts are exact integers, recall one IEEE division.
    *
    * Scale: q45's bounded-broadcast posture ×(|dims|+1) brute-force scans
    * (the recall=1 baseline being evaluated — the IVF path is what the
    * answer tunes); each arm's slice is constant-folded, top-k runs the
    * bounded heap aggregate ([[graft.functions.TopKByScore]]), the
    * overlap join keys on (query, neighbor). */
  def q221DimAblation(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 20, dims: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    def topK(proj: Column => Column): DataFrame = {
      val c = e.select(col("vec_id"), proj(toDoubles(col("embedding"))).as("emb"))
        .select(col("vec_id"), col("emb"),
          sqrt(dotD(col("emb"), col("emb"))).as("norm"))
      val q = c.filter(col("vec_id") < nQueries)
      val scored = c.as("c")
        .join(broadcast(q.select(col("vec_id").as("qid"), col("emb").as("qe"),
          col("norm").as("qn"))), col("qid") =!= col("c.vec_id"))
        .select(col("qid"), col("c.vec_id").as("nid"),
          (dotD(col("qe"), col("c.emb")) / (col("qn") * col("c.norm")))
            .as("score"))
      graft.functions.TopKByScore.topK(scored,
          col("qid"), col("nid"), col("score"), k)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
    }
    val full = topK(identity)
    dims.map { d =>
      topK(v => slice(v, 1, d))
        .join(full.withColumn("__hit", lit(1L)), Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
        .select(lit(d).as("dim"), col("qid").as("query_id"), col("n_overlap"),
          (col("n_overlap").cast("double") / lit(k.toDouble)).as("recall"))
    }.reduce(_ unionAll _)
  }

  // ---------------------------------------------------------------- C97
  /** IVF index health report — per-cell population, share, and
    * ratio-to-mean, plus the cumulative share of the largest cells (what
    * a worst-case adversarial probe pattern would scan): the diagnostic
    * that decides whether an index needs re-training or more cells before
    * queries hit it (a 10× hot cell makes every probe that lands there
    * 10× the average scan — the q106/q122 cell-skew hazard, quantified).
    *
    * Scale: one partial-agged groupBy over the assignments to ≤nCells
    * rows; every window runs on that nCells-bounded frame. Rows-only
    * (k-means cells aren't SQL); the spec checks the shares are a
    * partition of the corpus and the cumulative column is the sorted
    * prefix sum.
    *
    * The report also surfaces the quantizer's TRAINING sampling rate
    * (`sample_fraction` = min(1, fitSampleSize/corpus)): at 100 TB the
    * k-means fits on a bounded sample by design, and an operator reading
    * cell skew should see the rate that produced those cells next to it
    * — a skewed report at a tiny fraction says "train bigger" before it
    * says "re-shard". */
  def q223IvfBalance(spark: SparkSession, dir: String,
      nCells: Int = 16,
      fitSampleSize: Int = IvfIndex.DefaultFitSampleSize): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val built = IvfIndex.build(e, nCells, fitSampleSize)
    val sizes = built.assignments.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"))
    val whole = Window.partitionBy() // ≤nCells rows — bounded
    val bySize = Window.orderBy(col("n_vectors").desc, col("cell").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sizes
      .withColumn("total", sum(col("n_vectors")).over(whole))
      .withColumn("n_cells", count(lit(1)).over(whole))
      .select(col("cell"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("n_vectors").cast("double") * col("n_cells").cast("double")
          / col("total").cast("double")).as("ratio_to_mean"),
        (sum(col("n_vectors")).over(bySize).cast("double")
          / col("total").cast("double")).as("cum_share_if_probed_first"),
        least(lit(1.0),
          lit(fitSampleSize.toDouble) / col("total").cast("double"))
          .as("sample_fraction"))
  }

  // ---------------------------------------------------------------- C100
  /** Embedding outliers by distance-to-label-centroid — the embedding-QA
    * screen (mislabeled or out-of-distribution vectors sit far from their
    * class mean; the per-label complement of C76's global anisotropy
    * check): per label, the top-k vectors by Euclidean distance to the
    * label's mean vector.
    *
    * Scale: centroids are a \|labels\|·d-bounded aggregation — broadcast
    * BY CONSTRUCTION back onto the corpus scan (q80's rule); distances
    * are one codegen'd zip_with fold per vector; top-k per label compiles
    * to WindowGroupLimit. Exact-oracle-able: the mean divides once per
    * dimension (n exact, per-dimension sums exact fp of identical adds?
    * NO — sum order varies), so the centroid uses a SORTED per-dimension
    * fold: explode to (label, dim, value), aggregate per (label, dim)
    * with an ORDERED cumulative over vec_id — both engines add in vec_id
    * order, bit-identical. */
  def q234CentroidOutliers(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), toDoubles(col("embedding")).as("emb"))
    // per-(label, dim) mean with a DETERMINISTIC fold order: cumulative
    // sum over vec_id, final value = the ordered total (q216's rule —
    // a plain SUM of doubles is partitioning-dependent)
    val byDim = e.select(col("vec_id"), col("label"),
      posexplode(col("emb")).as(Seq("dim", "x")))
    val wOrd = Window.partitionBy(col("label"), col("dim"))
      .orderBy(col("vec_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val centroids = byDim
      .withColumn("cum", sum(col("x")).over(wOrd))
      .groupBy(col("label"), col("dim"))
      // the ordered total is the cum at the LAST vec_id (values are
      // signed, so a max over cums would be wrong) — max_by, tie-free
      .agg((max_by(col("cum"), col("vec_id"))
        / count(lit(1)).cast("double")).as("m"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), " +
        "s -> s.m)").as("centroid"))
    val d2 = aggregate(
      zip_with(col("emb"), col("centroid"), (a, b) => (a - b) * (a - b)),
      lit(0.0), _ + _)
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist").desc, col("vec_id").asc)
    e.join(broadcast(centroids), Seq("label"))
      .select(col("label"), col("vec_id"), sqrt(d2).as("dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("label"), col("rk"), col("vec_id"), col("dist"))
  }

  // ---------------------------------------------------------------- C102
  /** Neighborhood label purity per class — the aggregate embedding-quality
    * report over C79's per-vector votes (is each class a coherent region,
    * or scattered?): for every vector, the share of its k nearest OTHER
    * vectors carrying its own label, rolled up per label.
    *
    * Exactness: the mean purity is Σ matching-neighbor counts / (k·n) —
    * ONE division of exact integers (averaging per-vector double shares
    * would sum in partition order, q93's rule). Scale: candidates come
    * from [[gatedAllVectorsTopK]] — q183's exact size gate, shared, so
    * under `bruteForceMax` the oracle-able brute arm runs and past it
    * the IVF-cell shuffle arm swaps in with nothing corpus-sized
    * broadcast (Round13ScaleSpec pins both the arm equivalence at
    * nProbe=nCells and the scaled plan's centroid-only broadcast). The
    * purity rollup is arm-agnostic — it reads only (query, neighbor). */
  def q239NeighborhoodPurity(spark: SparkSession, dir: String,
      k: Int = 5, bruteForceMax: Long = 200000L, nCells: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val labels = e.select(col("vec_id"), col("label"))
    val topk = gatedAllVectorsTopK(e, k, bruteForceMax, nCells, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    topk
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("qlabel")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), Seq("neighbor_id"))
      .groupBy(col("qlabel").as("label"))
      .agg(countDistinct(col("query_id")).as("n_vectors"),
        sum(when(col("qlabel") === col("nlabel"), 1L).otherwise(0L))
          .as("n_matching"))
      .select(col("label"), col("n_vectors"), col("n_matching"),
        (col("n_matching").cast("double")
          / (col("n_vectors") * k).cast("double")).as("mean_purity"))
  }

  // ---------------------------------------------------------------- C105
  /** Confusion matrix of the kNN label classifier — C79's per-vector
    * verdicts rolled into the (true × predicted) matrix with per-cell
    * share-of-true-label (the embedding twin of C80's language confusion:
    * WHICH classes bleed into which, where C102's purity only says how
    * much): counts exact, the row share one IEEE division against the
    * true label's exact total. Bounded \|labels\|² output; inherits
    * q183's size-gated candidate generation unchanged. */
  def q244KnnConfusion(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val verdicts = q183KnnClassify(spark, dir, k)
      .select(col("true_label"), col("pred_label"))
    val wTrue = Window.partitionBy(col("true_label")) // ≤|labels|² frame
    verdicts.groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_share",
        col("n").cast("double")
          / sum(col("n")).over(wTrue).cast("double"))
      .withColumn("hit", col("true_label") === col("pred_label"))
  }

  // ---------------------------------------------------------------- C111
  /** Per-label embedding NORM profile — the cheapest embedding-QA screen
    * (an un-normalized batch, a collapsed class, or a scale drift between
    * encoder versions shows up in the norm distribution before any
    * similarity metric moves; the scalar complement of C100's per-vector
    * centroid distances): per label, vector count and the min / max /
    * mean L2 norm.
    *
    * Exactness: each norm is one deterministic index-ordered fold + sqrt
    * (engine-identical); min/max are order-free; the MEAN uses the
    * ordered-cumulative trick (cumulative sum over vec_id, take the
    * value at the last id via max_by — q234's rule) so both engines add
    * in the same order. Scale: map-only norm scan; the window and rollup
    * partition by label; output ≤\|labels\| rows. */
  def q255NormProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), l2Norm(col("embedding")).as("norm"))
    val wOrd = Window.partitionBy(col("label")).orderBy(col("vec_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("cum", sum(col("norm")).over(wOrd))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"),
        (max_by(col("cum"), col("vec_id"))
          / count(lit(1)).cast("double")).as("mean_norm"))
  }

  // ---------------------------------------------------------------- C76
  /** Top principal component by MATRIX-FREE power iteration (the
    * embedding-drift / anisotropy diagnostic — sentence-embedding spaces
    * are notoriously dominated by one rogue direction, and whitening it
    * out needs exactly this vector): never materializes the d×d
    * covariance — each round is ONE map-only scan computing
    * `w = Σ (x−μ)·((x−μ)ᵀv)` as a codegen'd zip_with/aggregate fold, with
    * only the d per-dimension partial sums leaving the executors
    * (dimension-bounded collect, d rows/round — the repo's ≤k-row rule;
    * the corpus never moves). Centered vectors are materialized once;
    * `v` rides each scan as a constant-folded array literal (broadcast by
    * construction). Deterministic: fixed uniform init, largest-|loading|
    * sign convention, fixed iteration count. Driver-side normalization is
    * O(d) per round. Rows-only (iteration isn't SQL) + in-memory replay
    * spec with a Rayleigh-dominance witness. */
  def q179PcaPower(spark: SparkSession, dir: String,
      iters: Int = 12): DataFrame = {
    import spark.implicits._
    val raw = Tables.embeddings(spark, dir)
      .select(toDoubles(col("embedding")).as("emb"))
    val dim = raw.select(size(col("emb")).as("d")).head().getInt(0)
    val n = raw.count()
    val mean = raw.select(posexplode(col("emb")).as(Seq("d", "v")))
      .groupBy(col("d")).agg(sum(col("v")).as("s"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1) / n)
    val mLit = array(mean.map(lit): _*)
    val centered = graft.Lineage.truncate(
      raw.select(zip_with(col("emb"), mLit, (a, b) => a - b).as("x")),
      eager = false).df
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val vLit = array(v.map(lit): _*)
      val s = aggregate(zip_with(col("x"), vLit, (a, b) => a * b),
        lit(0.0), (acc, t) => acc + t)
      val sums = centered.select(col("x"), s.as("s"))
        .select(posexplode(expr("transform(x, xi -> xi * s)"))
          .as(Seq("d", "w")))
        .groupBy(col("d")).agg(sum(col("w")).as("sw"))
        .collect().sortBy(_.getInt(0)).map(_.getDouble(1)) // d rows
      val norm = math.sqrt(sums.map(x => x * x).sum)
      lambda = norm / n // Rayleigh quotient of the unit previous v
      val flip = if (sums(sums.map(math.abs).zipWithIndex.max._2) < 0) -1.0
        else 1.0
      v = sums.map(_ * flip / norm)
    }
    v.zipWithIndex.map { case (l, d) => (d, l, lambda) }.toSeq
      .toDF("dim", "loading", "eigenvalue")
  }

  // ---------------------------------------------------------------- C115
  /** Per-dimension clip-bound calibration for embedding quantization:
    * min / p01 / p50 / p99 / max of each coordinate across the corpus —
    * the table an int8 quantizer (C20/q67) clips against, and the
    * saturation audit for it.
    *
    * Percentiles are EXACT ORDER STATISTICS at explicit integer ranks
    * (ceil(q·n) via integer div — no interpolation, so no cross-engine
    * fp-association drift; ties need no tie-break because every row at
    * the tied rank carries the same value). Scale: posexplode is
    * map-side; the rank window partitions by dimension — |dims|-way
    * parallel sorts of n values each, the unavoidable cost of exact
    * full-corpus quantiles (sample upstream for a cheaper calibration);
    * the rollup partial-aggs on the same exchange. */
  // ---------------------------------------------------------------- C116
  /** Intra/inter-label mean pairwise cosine WITHOUT enumerating pairs —
    * the label-cohesion matrix (are classes tight? which pairs blur?)
    * behind C96's ablation and C100's outlier screens, computed through
    * the sum-vector identity: for unit vectors, Σ_{i≠j∈A} cos(i,j) =
    * ‖Σu‖² − Σ‖u‖² and Σ_{i∈A,j∈B} cos = S_A·S_B — so an O(n²)
    * statistic costs ONE O(n·d) pass plus |labels|²·d work on the
    * aggregated sums. (Σ‖u‖² is taken as n — exact up to the fp
    * normalization residual, identically on both engines.)
    *
    * Exactness: the three fp folds (per-row norm, per-(label,dim) sum
    * over rows, per-pair dot over dims) all run as SEQUENTIAL left folds
    * in a fixed order — array order, vec_id order, dim order — matching
    * the oracle's list_reduce exactly (the q255 rule: never a plain
    * double SUM across engines). Scale: the only full-data pass is the
    * explode + one exchange on (label, dim) — \|labels\|·d parallel
    * cells; the per-cell ORDERED fold is the cross-engine determinism
    * discipline, not a mathematical need — a deployment that doesn't
    * require bit-reproducibility swaps it for a partial-agged sum(uv)
    * and the identity (and the plan) is unchanged. Everything after
    * lives on ≤\|labels\|·d rows. */
  def q273LabelCohesion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        toDoubles(col("embedding")).as("x"))
    val norm = sqrt(aggregate(col("x"), lit(0.0), (a, v) => a + v * v))
    val ex = e
      .select(col("vec_id"), col("label"),
        transform(col("x"), v => v / norm).as("u"))
      .select(col("vec_id"), col("label"),
        posexplode(col("u")).as(Seq("dim", "uv")))
    // NOT pinned to session width: an r19 A/B measured the (label, dim)
    // repartition SLOWER (2.5 → 3.8 s) — the fold is ~2 s of CPU and the
    // extra exchange + 67-task launch overhead outweighs the parallelism
    val byCell = Window.partitionBy(col("label"), col("dim"))
    val ord = byCell.orderBy(col("vec_id"))
    val s = ex
      .withColumn("cum", sum(col("uv")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(ord))
      .withColumn("n", count(lit(1)).over(byCell))
      .filter(col("rn") === col("n")) // the full sequential fold
      .select(col("label"), col("dim"), col("cum").as("s"),
        col("n").cast("long").as("n"))
    val byPair = Window.partitionBy(col("label_a"), col("label_b"))
    val pOrd = byPair.orderBy(col("dim"))
    s.as("a")
      .join(s.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") <= col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        col("a.dim").as("dim"), (col("a.s") * col("b.s")).as("p"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .withColumn("cum", sum(col("p")).over(
        pOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(pOrd))
      .withColumn("nd", count(lit(1)).over(byPair))
      .filter(col("rn") === col("nd"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        when(col("label_a") === col("label_b"),
          (col("cum") - col("n_a").cast("double"))
            / (col("n_a") * (col("n_a") - 1)).cast("double"))
          .otherwise(col("cum") / (col("n_a") * col("n_b")).cast("double"))
          .as("mean_cos"))
  }

  /** Per-dimension clip bounds at exact ranks — the rank pass rides
    * [[Rank.groupRowNumberAndTotal]]'s range exchange on (dim, v): at
    * 100 TB every dim-partition holds the WHOLE corpus count, so a plain
    * per-dim window is the r15-cured cliff class (value ties are
    * harmless — only the VALUE at a rank is consumed). */
  def q268DimClipBounds(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(toDoubles(col("embedding")).as("emb"))
      .select(posexplode(col("emb")).as(Seq("dim", "v")))
    Rank.groupRowNumberAndTotal(e, Seq("dim"), Seq(col("v")), "rn", "n")
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(max(col("n")).as("n"),
        min(col("v")).as("min_v"),
        max(when(col("rn") === expr("(n + 99) div 100"), col("v")))
          .as("p01"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("v"))).as("p50"),
        max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("v")))
          .as("p99"),
        max(col("v")).as("max_v"))
  }

  // ---------------------------------------------------------------- C122
  /** Per-label coordinate sign balance: for every (label, dimension),
    * the share of vectors whose component is positive — the cheapest
    * label-separability screen there is (a dimension whose sign splits
    * 90/10 for one label and 10/90 for another is doing real work; all
    * ≈50% means the information lives in magnitudes, not orthants), and
    * an integer-exact statistic where means/variances of floats are not
    * cross-engine reproducible.
    *
    * Exactness: the sign test on a float is exact; counts are integers,
    * the share one division. Scale: one posexplode (×dims fan-out — the
    * same any per-dimension pass pays) into a (label, dim) partial agg;
    * ≤\|labels\|·dims output. */
  def q300DimSignBalance(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("v") > 0.0f, 1L).otherwise(0L)).as("n_positive"))
      .select(col("label"), col("dim"), col("n_vectors"), col("n_positive"),
        (col("n_positive").cast("double") / col("n_vectors").cast("double"))
          .as("positive_share"))
}
