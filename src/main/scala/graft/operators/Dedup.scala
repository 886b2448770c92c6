package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.Tables

/**
 * Deduplication operators for training-data pipelines — exact, MinHash+LSH,
 * SimHash, n-gram Jaccard, embedding-cosine.
 *
 * Scale design:
 *  - Exact dedup groups on a 128-bit content hash, never on the text itself —
 *    the shuffle carries 16 bytes + ids per row, not documents.
 *  - MinHash/LSH: the only join is on (band_id, band_hash) — uniform keys by
 *    construction, candidate pairs ≪ n²; buckets are capped so one
 *    pathological bucket can't go quadratic.
 *  - SimHash reduces a document to one 64-bit signature; near-dup = hamming
 *    proximity, joinable on signature prefixes.
 *  - All signatures are built from codegen'd higher-order functions
 *    (transform/aggregate/xxhash64) — no UDFs, no driver-side loops.
 */
object Dedup {

  // ---------------------------------------------------------------- C1
  /** Exact dedup: group by md5(text), keep the lowest doc_id (the canonical
    * representative), count duplicates. */
  def q40DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  // ---------------------------------------------------------------- C26
  /** Incremental (cross-corpus) dedup — the ingest-time shape: a new batch
    * (here doc_id % `mod` == 0, a deterministic stand-in for today's crawl)
    * is checked against the existing corpus' content-hash set; within-batch
    * first occurrences are resolved in the same pass. `keep` is the rows an
    * ingest pipeline appends. This is C1's streaming sibling — TiFlink's
    * whole premise (maintain incrementally, don't recompute) applied to
    * dedup.
    *
    * Scale: the join carries only (id, hash); the existing side reduces to
    * DISTINCT hashes before the join. At 100 TB keep the corpus hash set as
    * a bucketed table ([[graft.sources.Storage]]) so each ingest shuffles
    * only the batch — the big side is already hash-clustered on disk. */
  def q73IncrementalDedup(spark: SparkSession, dir: String,
      mod: Int = 5): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val existing = d.filter(col("doc_id") % mod =!= 0)
      .select(col("h")).distinct().withColumn("__dup", lit(true))
    val batch = d.filter(col("doc_id") % mod === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"))
    batch.join(existing, Seq("h"), "left")
      .withColumn("is_new", coalesce(col("__dup"), lit(false)) === false)
      .withColumn("first_in_batch", row_number().over(w) === 1)
      .select(col("doc_id"), col("h"), col("is_new"),
        (col("is_new") && col("first_in_batch")).as("keep"))
  }

  /** Word k-shingles (distinct), hashed to 64-bit — the unit of Jaccard. */
  def shingles(text: Column, k: Int): Column = {
    val words = split(text, " ", -1)
    array_distinct(transform(
      sequence(lit(0), greatest(size(words) - k, lit(0))),
      i => xxhash64(concat_ws(" ", slice(words, i + 1, lit(k))))))
  }

  /** Exploded distinct (id, shingle-hash) view via posexplode + lead windows —
    * semantically identical to `explode(shingles(text, k))` but every step is
    * codegen'd (the per-row HOF lambda above evaluates interpreted, which
    * dominates when shingling a large corpus). */
  def shinglesExploded(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val words = df.select(col(idCol),
      posexplode(split(col(textCol), " ", -1)).as(Seq("__pos", "__w")))
    val parts = col("__w") +: (1 until k).map(j => lead(col("__w"), j).over(w))
    words
      .select(col(idCol), concat_ws(" ", parts: _*).as("__sh"),
        lead(col("__w"), k - 1).over(w).isNotNull.as("__full"))
      .filter(col("__full") || col("__pos") === 0) // match shingles(): short docs yield 1 shingle
      .select(col(idCol), xxhash64(col("__sh")).as("s"))
      .distinct()
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * min over the shingle set. One pass, nested codegen'd transforms. */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      seed => array_min(transform(shingleCol, s => xxhash64(s, seed))))

  /** MinHash signature over the exploded (id, shingle) view: `numHashes`
    * independent `min(xxhash64(s, seed))` partial aggregates. A cheaper
    * h1 + i·h2 linear-combo family is NOT usable here: keeping the addition
    * ANSI-overflow-safe bounds i·h2 ≪ h1, which collapses every slot to the
    * same argmin and destroys the Jaccard estimate (caught by PropertySpec's
    * agreement-vs-true-jaccard check). Independent seeded hashes are cheap
    * post-codegen. Also returns the distinct-shingle count `n_sh`. */
  def signatureFromExploded(
      exploded: DataFrame, idCol: String, shingleCol: String, numHashes: Int): DataFrame =
    exploded.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sh"),
        array((0 until numHashes).map(i =>
          min(xxhash64(col(shingleCol), lit(i)))): _*).as("sig"))

  /** LSH candidate pairs: split the signature into `bands`, bucket by band
    * hash, pair within buckets. Returns (doc_a, doc_b) with doc_a < doc_b. */
  def lshCandidates(
      docs: DataFrame, idCol: String, sigCol: String,
      bands: Int, maxBucket: Int = 1000): DataFrame = {
    val rows = docs.select(col(idCol).as("id"), col(sigCol).as("sig"))
    val nHashes = 64 // caller contract: sig length
    val r = nHashes / bands
    val banded = rows.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band_id"), xxhash64(slice(col("sig"), b * r + 1, lit(r)), b).as("band_hash"))))
        .as("bd"))
      .select(col("id"), col("bd.band_id"), col("bd.band_hash"))
    // Cap pathological buckets (a degenerate shingle set would go quadratic).
    // The oversized keys are found with a map-side partial-aggregated groupBy
    // and removed with a broadcast ANTI join: the over-cap set is tiny by
    // construction (each member exceeds maxBucket rows), so it always
    // broadcasts — whereas a count-window would sort the entire hot bucket
    // through the single reducer that owns its key, the exact pathology the
    // cap exists to avoid (cf. Skew.saltedSelfPairs' bound).
    val hot = banded.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBucket)
      .select(col("band_id"), col("band_hash"))
    val capped = banded.join(broadcast(hot), Seq("band_id", "band_hash"), "left_anti")
    capped.as("a").join(capped.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard between two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b))).cast("double")
  }

  // ---------------------------------------------------------------- C2
  /** MinHash+LSH near-dup: shingle → 64 minhashes → 16 bands → bucket join →
    * exact-Jaccard rescore of candidates only. Output is rescored with the
    * true Jaccard, so recall (not precision) is the only LSH approximation.
    *
    * One map-side pass builds each document's sorted shingle-hash array AND
    * its 64-slot signature ([[graft.functions.TextHashes]] kernels — bit-
    * identical to the exploded-aggregate formulation, asserted by
    * KernelParitySpec, but with no posexplode, no window sort, no 64-column
    * shuffle). Candidates bucket-join on uniform (band, hash) keys; the
    * rescore joins the small candidate set back to the per-doc arrays and
    * counts intersections with the codegen'd two-pointer merge. At 100 TB
    * every shuffle here carries ids + fixed-width signatures, never text. */
  def q41DedupMinhash(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    import graft.functions.{GraftFunctions, TextHashFunctions}
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextHashFunctions.wordShingleHashes(col("text"), 3).as("sh"))
      .select(col("doc_id"), col("sh"),
        TextHashFunctions.minhashSig(col("sh"), 64).as("sig"),
        size(col("sh")).cast("long").as("n_sh"))
    val cands = lshCandidates(d.select(col("doc_id"), col("sig")), "doc_id", "sig", bands = 16)
    cands
      .join(d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("n_sh").as("n_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("n_sh").as("n_b")), "doc_b")
      // bounded kernel under the Jaccard-floor filter: result-invariant
      // (below-floor pairs return -1, which fails the filter identically;
      // at/above-floor pairs return the exact count — the r18 q199
      // contract), skipping most merge steps on dissimilar candidates
      .withColumn("inter", GraftFunctions.sortedIntersectCountBounded(
        col("sh_a"), col("sh_b"), threshold))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 64-bit SimHash from word unigrams: per bit, sign of Σ(±1) weighted by
    * each word-hash's bit. */
  def simhash(text: Column): Column = {
    val hashes = transform(split(text, " ", -1), w => xxhash64(w))
    val bits = transform(sequence(lit(0), lit(63)), i =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)) > 0, lit(1L))
        .otherwise(lit(0L)))
    aggregate(zip_with(bits, sequence(lit(0), lit(63)), (b, i) => call_function("shiftleft", b, i)),
      lit(0L), (acc, v) => acc.bitwiseXOR(v))
  }

  /** DataFrame-level simhash: exploded word view → 64 per-bit ± sums as
    * map-side partial aggregates → one assembled long per doc. Same result
    * as [[simhash]] but one pass over the words instead of 64. */
  def simhashDf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df.select(col(idCol), explode(split(col(textCol), " ", -1)).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val aggs = (0 until 64).map(i =>
      sum(when(call_function("shiftright", col("h"), lit(i)).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"b$i"))
    val bitSums = words.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    bitSums.select(col(idCol),
      (0 until 64).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("sh"))
  }

  // ---------------------------------------------------------------- C3
  /** SimHash signatures + near-dup pairs within hamming distance ≤ 6, found
    * by banding the 64-bit signature into 4×16-bit chunks (pigeonhole: any
    * pair within distance 3 shares ≥1 exact chunk; wider distances trade
    * recall) — same bucket-join shape as LSH, no n² scan. */
  def q42DedupSimhash(spark: SparkSession, dir: String, maxHamming: Int = 6): DataFrame = {
    // one codegen'd pass per document (no word explode / 64-column shuffle);
    // bit-identical to simhashDf (asserted by KernelParitySpec)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextHashFunctions.simhash64(col("text")).as("sh"))
    val chunks = docs.select(col("doc_id"), col("sh"),
      explode(transform(sequence(lit(0), lit(3)),
        i => struct(i.as("chunk_id"),
          call_function("shiftright", col("sh"), i * 16).bitwiseAND(0xFFFF).as("chunk_val")))).as("c"))
      .select(col("doc_id"), col("sh"), col("c.chunk_id"), col("c.chunk_val"))
    val hamming = {
      val x = col("a.sh").bitwiseXOR(col("b.sh"))
      bit_count(x)
    }
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk_id") === col("b.chunk_id") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------------------------- C4
  /** Exact character-3-gram Jaccard for pairs within the same source
    * (blocking key bounds the pair count; at scale the block is the shard).
    *
    * At threshold 0.3 on prose-like corpora the RESULT is dense (most
    * same-block pairs qualify — char-3-grams of a small alphabet overlap
    * heavily), so candidate pruning (LSH banding, AllPairs prefix filter)
    * cannot make this sub-quadratic: the output itself is ~Σ C(block,2).
    * The scalable levers are (a) the blocking key — at 100 TB the block is
    * the shard and the quadratic is per-shard by contract — and (b) paying
    * the two-pointer merge EXACTLY ONCE per unordered pair:
    *
    *  - the join condition carries only cheap predicates (block+salt keys,
    *    `doc_a < doc_b`, and a size-ratio prefilter — J ≥ t requires
    *    t·max(|A|,|B|) ≤ min(|A|,|B|));
    *  - jaccard is computed in ONE projection (its two references to the
    *    intersect count are de-duplicated by codegen subexpression
    *    elimination);
    *  - the `observe` node below is a deliberate optimizer barrier: Catalyst
    *    must not push the threshold filter through it (CollectMetrics has to
    *    see exact rows), so the filter cannot be folded back into the join
    *    condition where the intersect would be re-evaluated per PROBED pair
    *    (≈2× per unordered candidate) instead of per emitted pair. It also
    *    surfaces the candidate-pair count as an observable metric. */
  def q43NgramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.TextHashFunctions.charNgramHashes(col("text"), 3).as("gs"))
      .withColumn("n_g", size(col("gs")).cast("long"))
    // the bounded kernel is exact for every pair at/above `threshold`
    // and -1 below it — -1 yields a negative jaccard, dropped by the
    // same filter that drops genuine sub-threshold pairs
    val inter = graft.functions.GraftFunctions
      .sortedIntersectCountBounded(col("a.gs"), col("b.gs"), threshold)
    // maxBlock bounds the per-block pair count at C(10⁴,2) ≈ 5·10⁷ — the
    // most one shard should ever merge-count; a bigger block needs an LSH
    // prefilter, not this operator. Never triggers at oracle scales
    // (blocks are ≤250 rows there).
    Skew.saltedSelfPairs(d, "source", "doc_id", salts = 4, maxBlock = 10000)
      .filter(greatest(col("a.n_g"), col("b.n_g")) * threshold
        <= least(col("a.n_g"), col("b.n_g")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (inter.cast("double") /
          (col("a.n_g") + col("b.n_g") - inter).cast("double")).as("jaccard"))
      // unique metric name per invocation: two q43 plans combined in one
      // query must not collide on the CollectMetrics name
      .observe(s"q43_candidate_pairs_${obsId.incrementAndGet()}",
        count(lit(1)).as("pairs"))
      .filter(col("jaccard") >= threshold)
  }

  private val obsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Count of q199 dense-sweep advisories emitted in this JVM — the
    * testable witness of the loud path. */
  val sweepAdvisories = new java.util.concurrent.atomic.AtomicLong(0L)

  // ---------------------------------------------------------------- C5
  /** Embedding cosine near-dup: pairs with cosine ≥ threshold. Blocked by
    * label (the cluster id) to bound pairs; the unblocked scale path is
    * q46's hyperplane-LSH bucketing. */
  def q44DedupEmbedding(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    // norms and the float→double cast computed once per vector (not per
    // pair); the per-pair work is one codegen'd dot product + a division.
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        VectorFunctions.toDoubles(col("embedding")).as("emb"),
        VectorFunctions.l2Norm(col("embedding")).as("norm"))
    // triangle-salted: 10 labels would otherwise mean 10 reducers total;
    // maxBlock bounds the per-label quadratic (≤218 rows at oracle scales)
    Skew.saltedSelfPairs(e, "label", "vec_id", salts = 4, maxBlock = 10000)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (VectorFunctions.dotD(col("a.emb"), col("b.emb"))
          / (col("a.norm") * col("b.norm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ---------------------------------------------------------------- C34
  /** Containment near-dup detection — the ASYMMETRIC complement of q43's
    * Jaccard: `|A∩B| / min(|A|,|B|)` over distinct char 3-gram sets finds
    * the smaller document embedded inside the larger one (quote farms,
    * concatenation blobs, page-plus-boilerplate wrappers). Jaccard misses
    * exactly these — a doc fully contained in one 3× its size has Jaccard
    * ≤ 1/3, and q43's size-ratio prefilter drops the pair before scoring —
    * so a dedup pipeline runs both.
    *
    * Scale: same source-blocked salted self-pairs + single-pass kernel
    * machinery as q43 (triangle salting bounds reducer skew, `maxBlock`
    * bounds the block quadratic, shuffles carry sorted hash arrays, the
    * per-pair work is one codegen'd merge-intersect); deliberately NO
    * size-ratio prefilter — asymmetry is the signal here. */
  def q81Containment(spark: SparkSession, dir: String,
      threshold: Double = 0.9): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.TextHashFunctions.charNgramHashes(col("text"), 3).as("gs"))
      .withColumn("n_g", size(col("gs")).cast("long"))
    // containment-bounded kernel: the downstream filter is
    // `inter / min(n_g) >= threshold`, so the merge may stop once even
    // c + min(tails) cannot reach threshold·min(n,m) — below-floor pairs
    // return -1 (negative containment, filtered identically), at/above-
    // floor pairs return the exact count (contract proven on the
    // expression; KernelParitySpec pins filter-invariance). The JACCARD
    // bounded kernel stays correctly rejected here (r19): its exit drops
    // small-inside-big true positives.
    val inter = graft.functions.GraftFunctions
      .sortedIntersectCountBoundedContain(col("a.gs"), col("b.gs"), threshold)
    Skew.saltedSelfPairs(d, "source", "doc_id", salts = 4, maxBlock = 10000)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (inter.cast("double")
          / least(col("a.n_g"), col("b.n_g")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  // ---------------------------------------------------------------- C60
  /** Prefix-filtered set-similarity self-join (the PPJoin family): ALL
    * document pairs with word-set Jaccard ≥ `threshold`, with ZERO false
    * negatives and no blocking assumption — unlike q43's salted source
    * blocks (which by construction never compare across blocks), prefix
    * filtering is exact: order every document's distinct tokens by global
    * rarity (df asc, token — one total order for the whole corpus), keep
    * each document's first `n − ⌈t·n⌉ + 1` tokens as its PREFIX, and the
    * classic prefix-filtering theorem guarantees two documents with
    * Jaccard ≥ t share at least one prefix token — so the candidate join
    * keys on prefix tokens only. Rare-first ordering is what makes the
    * filter sharp: the join fans out on tokens that appear in few
    * documents; a stopword never enters a prefix unless a document is
    * almost all stopwords.
    *
    * Scale: the whole pipeline runs on 64-bit token hashes (q40's
    * 16 B/row rule — candidate keys, df counts, and prefix ranks shuffle
    * 8-byte longs, never strings; rarity order (df asc, hash) is just as
    * total), and verification is [[graft.functions.SortedIntersectCount]]
    * — the allocation-free two-pointer merge over each doc's sorted hash
    * set, attached once per doc (q43's discipline; a 64-bit intra-doc
    * collision altering a count is the same astronomically-unlikely
    * stance q43 ships with, and the DuckDB oracle — which computes on the
    * raw tokens — exact-matches at every tested scale). Token df is one
    * partial-agged shuffle, the df join UNFORCED (vocab-sized, q119's
    * rule), prefix ranking a key-parallel window; candidate fan-out per
    * prefix token is that token's document frequency — bounded by rarity;
    * the skew hazard is a near-universal token reaching a prefix
    * (degenerate all-stopword docs; cap with Skew.oversizeBlocks if a
    * corpus has them). */
  def q148PrefixJoin(spark: SparkSession, dir: String,
      threshold: Double = 0.9): DataFrame = {
    // d feeds the token explode AND both verify joins; prefix feeds both
    // candidate self-join sides — materialize each once (q106's rule) or
    // the split/distinct/hash/sort text kernel re-executes per plan
    // reference (6 document scans measured before truncation, 1 after;
    // 113 s → 16 s at sf0.1 together with the hashed pipeline)
    val d = graft.Lineage.truncate(
      Tables.documents(spark, dir)
        .select(col("doc_id"), array_sort(transform(
          array_distinct(split(col("text"), " ")), t => xxhash64(t)))
          .as("hs"))
        .withColumn("n", size(col("hs")).cast("long")),
      eager = false).df
    val toks = d.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
    val dfreq = toks.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // prefix length n − ⌈t·n⌉ + 1 in INTEGER arithmetic: FP ceil(t·n)
    // overestimates whenever t·n lands ε above an integer (0.55·20 =
    // 11.000…002 → ceil 12), silently shortening the prefix and breaking
    // the zero-false-negative guarantee. t is taken at 1e-6 resolution.
    val tScaled = math.round(threshold * 1e6)
    val ceilTn = expr(s"($tScaled * n + ${1000000L - 1}) div 1000000")
    // pin the checkpoint at session width ON THE JOIN KEY: AQE coalesces
    // this ~MB-scale frame to ONE partition, and since both candidate
    // self-join sides broadcast-build against it, the whole candidate
    // enumeration + pair-distinct map side then runs on ONE task (r19
    // profile: a single 6.2 s task against 0.5 s for the rest of the
    // query). REPARTITION_BY_NUM is AQE-proof; the narrow (h, doc_id, n)
    // rows make the extra exchange ~1 MB — nothing like the text-input
    // fan-out this round measured and rejected.
    val numParts = graft.GraftSession.shufflePartitions(spark)
    val prefix = graft.Lineage.truncate(
      toks.join(dfreq, Seq("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("h"))))
        .filter(col("rn") <= col("n") - ceilTn + 1)
        .select(col("h"), col("doc_id"), col("n"))
        .repartition(numParts, col("h")),
      eager = false).df
    // PPJoin length filter, exact: J ≥ t ⟹ I ≥ t·(n_a+n_b)/(1+t) and
    // I ≤ min, so min·(1+t) ≥ t·(n_a+n_b) ⟺ min ≥ t·max — same 1e-6
    // integer resolution as the prefix bound. Applied IN the candidate
    // join condition so length-incompatible pairs never reach the
    // distinct or the array-carrying verify joins.
    val cand = prefix.as("pa").join(prefix.as("pb"),
        col("pa.h") === col("pb.h") && col("pa.doc_id") < col("pb.doc_id")
          && least(col("pa.n"), col("pb.n")) * lit(1000000L)
             >= lit(tScaled) * greatest(col("pa.n"), col("pb.n")))
      .select(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
      .distinct()
    // bounded kernel under the jac >= threshold filter (q199's r18
    // contract: below-floor pairs return -1 and fail the filter
    // identically, passing pairs return the exact count)
    val inter = graft.functions.GraftFunctions
      .sortedIntersectCountBounded(col("ha"), col("hb"), threshold)
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("n").as("n_a")), Seq("doc_a"))
      .join(d.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
        col("n").as("n_b")), Seq("doc_b"))
      .withColumn("inter", inter)
      .withColumn("jac", col("inter").cast("double")
        / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"),
        col("n_b"), col("jac"))
  }

  // ---------------------------------------------------------------- C65
  /** Sorted-neighborhood near-dup detection (Hernández–Stolfo merge/purge):
    * order the corpus by a blocking key (here the text's leading
    * `prefixLen` chars — near-identical documents sort adjacent), then
    * compare each document only to its `window` successors in that global
    * order, verifying candidates with exact edit distance. The classic
    * alternative to hash blocking (q43's salted source blocks) and LSH
    * (q41): linear candidate count `n·window` by CONSTRUCTION — no skew
    * hazard, no bucket cap, at the price of missing duplicate pairs whose
    * first `prefixLen` chars diverge (spec documents the trade; the
    * multi-pass variant re-runs with a second key).
    *
    * Scale: the global order comes from [[Rank.globalRowNumber]] (range
    * exchange + metadata offsets — never a single-task window), and the
    * "next `window` neighbors" join is a map-side fan-out of each row to
    * `window` successor ranks joined hash-equi on the 8-byte rank — a
    * banded join, not a range join, so it partitions like any equi-join.
    * Edit-distance verification (codegen'd `levenshtein`, threshold-capped)
    * runs only on the n·window candidates. TiFlink analog: dedup-by-key
    * over a sorted changelog (`FlinkTikvConsumer.java:161-191` orders by
    * (commit_ts, key)); here the order itself is the blocking structure. */
  def q160SortedNeighborhood(spark: SparkSession, dir: String,
      window: Int = 5, prefixLen: Int = 24, maxDist: Int = 20): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        substring(col("text"), 1, prefixLen).as("k"))
    val ranked = graft.Lineage.truncate(
      Rank.globalRowNumber(d, Seq(col("k").asc, col("doc_id").asc), "rn"),
      eager = false).df
    // each row meets its `window` successors: fan the LEFT side out to the
    // successor ranks (map-side, ×window) and equi-join on the rank long
    val probes = ranked.select(col("doc_id").as("doc_a"),
        col("text").as("ta"),
        explode(expr(s"transform(sequence(1, $window), i -> rn + i)"))
          .as("rn"))
    probes.join(ranked.select(col("rn"), col("doc_id").as("doc_b"),
        col("text").as("tb")), Seq("rn"))
      // threshold-capped levenshtein: the DP row prunes to the band
      // |i-j| ≤ maxDist and early-exits at the cap — O(len·maxDist), not
      // O(len²); -1 marks "above cap", exact distance otherwise
      .withColumn("dist",
        levenshtein(col("ta"), col("tb"), maxDist).cast("long"))
      .filter(col("dist") =!= -1L)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  // ---------------------------------------------------------------- C87
  /** Near-dup threshold tuning curve — how many pairs (and how many
    * documents) each candidate Jaccard threshold would implicate, in ONE
    * pass: the artifact that turns "pick 0.3" from folklore into a read
    * off a table (paired with C78's LSH eval, it prices both sides of
    * the dedup design). Pair Jaccards bin INTEGER-exactly — bin =
    * (20·|∩|) div |∪|, integer division of exact counts, no fp boundary
    * straddle — and the cumulative columns run over the ≤20-bin
    * aggregated frame (q116's rule): `cum_pairs`/`cum_docs` at bin b =
    * pairs/docs a threshold of b/20 would implicate.
    *
    * Scale: q43's machinery exactly (salted source blocks, size-ratio
    * prefilter AT THE SWEEP FLOOR, codegen'd sorted-merge intersect);
    * cum_docs counts documents via a bin-level distinct that is NOT a
    * sum of per-bin counts (a doc in pairs of two bins must count once
    * at the lower threshold). */
  def q199ThresholdSweep(spark: SparkSession, dir: String,
      floor: Double = 0.2, advisePairs: Long = 50000000L): DataFrame = {
    // the sweep floor is THE knob pricing the dense low-threshold region:
    // the candidate scan is Θ(Σ C(block,2)) regardless of how many pairs
    // survive the floor, so when that volume is large, say so LOUDLY and
    // name the knob — never let a 100 TB corpus discover it by wall-clock
    // (the q181 gate's discipline, advisory rather than refusing because
    // the scan is the sweep's documented semantic cost, not a pathology)
    // one column-pruned scan + tiny shuffle — cheap beside the sweep's
    // own pair scan, and it must run BEFORE that scan to be an advisory.
    // Per-source n is clamped at what the salted self-join will actually
    // pair (salts × maxBlock, matching the join below): without the
    // clamp a single hot source would advise about C(n,2) pairs the
    // join's maxBlock cap loudly drops anyway. The join parameters are
    // hoisted so the clamp is DERIVED from them — a hardcoded product
    // desyncs silently the day either knob changes.
    val salts = 4
    val maxBlock = 10000
    val pairCap = salts.toLong * maxBlock
    val estPairs = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .select(coalesce(sum(expr(
        s"(least(n, $pairCap) * (least(n, $pairCap) - 1)) div 2")), lit(0L)).as("p"))
      .head().getLong(0)
    if (estPairs > advisePairs) {
      sweepAdvisories.incrementAndGet()
      System.err.println(
        s"[graft] q199ThresholdSweep(floor=$floor): ~$estPairs candidate " +
          "pairs before the floor filter (bounded-kernel scan, early-exit " +
          "below the floor) — raise `floor` to shrink the dense region, " +
          "or lower maxBlock in the salted self-join to exclude hot " +
          "sources loudly")
    }
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.TextHashFunctions.charNgramHashes(col("text"), 3).as("gs"))
      .withColumn("n_g", size(col("gs")).cast("long"))
    // bounded kernel: exact for every pair at/above the sweep floor, -1
    // (filtered) below — the floor is the knob that prices the dense
    // low-threshold region, and the kernel now charges dissimilar pairs
    // only until they are provably below it (sf1: 15x -> ~6x)
    val inter = graft.functions.GraftFunctions
      .sortedIntersectCountBounded(col("a.gs"), col("b.gs"), floor)
    val pairs = graft.Lineage.truncate(
      Skew.saltedSelfPairs(d, "source", "doc_id", salts = salts,
          maxBlock = maxBlock)
        .filter(greatest(col("a.n_g"), col("b.n_g")) * floor
          <= least(col("a.n_g"), col("b.n_g")))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          inter.as("i"),
          (col("a.n_g") + col("b.n_g")).as("s"))
        .withColumn("u", col("s") - col("i"))
        .filter(col("i").cast("double") >= col("u").cast("double") * floor)
        .select(col("doc_a"), col("doc_b"),
          expr("(20L * i) div u").as("bin")),
      eager = false).df
    val perBin = pairs.groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
    // docs implicated at threshold b/20 = docs in any pair with bin ≥ b:
    // per-doc MAX bin, then a cumulative count from the top
    // ONE explode, not a unionAll of two plan references — the union form
    // read the full materialized pair frame twice (r19 profile: 110 MB of
    // the 55 MB checkpoint re-read); row-identical multiset
    val docBins = pairs.select(
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"), col("bin"))
      .groupBy(col("doc_id")).agg(max(col("bin")).as("max_bin"))
      .groupBy(col("max_bin")).agg(count(lit(1)).as("n_docs_at_max"))
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ≤21-row frame: the ordered windows are dimension-bounded
    perBin.join(docBins.withColumnRenamed("max_bin", "bin"), Seq("bin"), "full_outer")
      .na.fill(0L, Seq("n_pairs", "n_docs_at_max"))
      .select(col("bin"),
        (col("bin").cast("double") / 20.0).as("threshold"),
        col("n_pairs"),
        sum(col("n_pairs")).over(w).as("cum_pairs"),
        sum(col("n_docs_at_max")).over(w).as("cum_docs"))
  }

  // ---------------------------------------------------------------- C83
  /** Dedup-funnel impact report — what each dedup GRANULARITY would
    * remove from the original corpus (whole-document exact (C1), shared
    * line/segment (C47), overlapping span (C69)), side by side: the
    * go/no-go artifact a curation team reads before paying for a pass,
    * and the regression canary watched across crawls (a jump in span
    * removal with flat exact removal = template drift, not re-crawling).
    * Each stage is measured INDEPENDENTLY against the original corpus —
    * a funnel of potentials, not a sequential application.
    *
    * Scale: each stage is its operator's aggregation shape (hash groupBy
    * / segment count join / window span union) collapsed to 3 report
    * rows; nothing new shuffles beyond what the underlying operators
    * already shuffle, and reassembled text is never built — the report
    * counts tokens directly on the flagged structures. */
  def q189DedupFunnel(spark: SparkSession, dir: String, segLen: Int = 3,
      spanW: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"), col("text"))
    // stage 1: whole-document exact — keep one copy per distinct text
    val exact = docs.groupBy(col("text"))
      .agg(count(lit(1)).as("cnt"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      .agg(
        // docs_affected = every member of a duplicated group
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("docs_affected"),
        sum(col("cnt") - 1).as("units_removed"),
        sum((col("cnt") - 1) * col("tok")).as("tokens_removed"))
      .select(lit("exact_doc").as("stage"), col("docs_affected"),
        col("units_removed"), col("tokens_removed"))
    // stage 2: shared segments (q118's structure, counted not reassembled)
    // — materialized once (lazily): feeds the mark aggregation AND the probe
    val segs = graft.Lineage.truncate(docs
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(ws) / ${segLen}.0) as int) - 1), " +
          s"i -> array_join(slice(ws, i * $segLen + 1, $segLen), ' '))"))
        .as(Seq("i", "seg"))), eager = false).df
    // duplicated ⟺ min(doc) ≠ max(doc), as a partial-aggregated groupBy
    // mark table + unforced semi-join (q170's r20 device — the window form
    // put every row of a hot segment through ONE reducer; see q170SpanDedup)
    val dupSegs = segs.groupBy(col("seg"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("seg"))
    val line = segs
      .join(dupSegs, Seq("seg"), "left_semi")
      .select(col("doc_id"),
        size(split(col("seg"), " ")).cast("long").as("tok"))
      .agg(countDistinct(col("doc_id")).as("docs_affected"),
        count(lit(1)).as("units_removed"),
        sum(col("tok")).as("tokens_removed"))
      .select(lit("shared_segment").as("stage"), col("docs_affected"),
        col("units_removed"), col("tokens_removed"))
    // stage 3: overlapping spans (q170's union, counted; materialized once)
    val wins = graft.Lineage.truncate(docs.filter(size(col("ws")) >= spanW)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $spanW), " +
          s"i -> array_join(slice(ws, i + 1, $spanW), ' '))")).as(Seq("i", "gram"))),
      eager = false).df
    val dupWins = wins.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("gram"))
    val span = wins
      .join(dupWins, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(expr(s"sequence(i, i + $spanW - 1)")).as("pos"))
      .distinct()
      .agg(countDistinct(col("doc_id")).as("docs_affected"),
        count(lit(1)).as("units_removed"))
      .select(lit("dup_span").as("stage"), col("docs_affected"),
        col("units_removed"), col("units_removed").as("tokens_removed"))
    exact.unionAll(line).unionAll(span)
      .select(col("stage"), coalesce(col("docs_affected"), lit(0L)).as("docs_affected"),
        coalesce(col("units_removed"), lit(0L)).as("units_removed"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"))
  }

  // ---------------------------------------------------------------- C78
  /** LSH quality evaluation — the recall/precision report that justifies
    * q41's banding parameters BEFORE a production dedup run trusts them
    * (every published near-dup pipeline reports exactly this table; the
    * S-curve promise is probabilistic and corpus-dependent): on a
    * deterministic hash-priority document sample, exact word-shingle
    * Jaccard ground truth is computed for ALL sample pairs and q41's LSH
    * candidate set is scored against it.
    *
    * Scale: ground truth is inherently quadratic — it is THE cost LSH
    * exists to avoid, so production evals run it on a bounded sample
    * exactly as here (`cap` docs via md5 priority, q132's reproducible
    * draw; the LSH side still uses the real banding machinery). The
    * sample is ≤cap BY CONSTRUCTION → its broadcast in the pair join is
    * legitimate (q80's rule); the exact rescore is the codegen'd sorted-
    * merge kernel. Rows-only (minhash isn't SQL) + set-arithmetic spec. */
  def q182LshEval(spark: SparkSession, dir: String, threshold: Double = 0.5,
      cap: Int = 1000): DataFrame = {
    import graft.functions.TextHashFunctions
    val docs = graft.Lineage.truncate(
      Tables.documents(spark, dir)
        .orderBy(md5(concat(lit("lsheval:"),
          col("doc_id").cast("string"))).asc, col("doc_id").asc)
        .limit(cap) // TakeOrdered: the reproducible sample, never a sort
        .select(col("doc_id"),
          TextHashFunctions.wordShingleHashes(col("text"), 3).as("sh"))
        .select(col("doc_id"), col("sh"),
          TextHashFunctions.minhashSig(col("sh"), 64).as("sig"),
          size(col("sh")).cast("long").as("n_sh")),
      eager = false).df
    // bounded kernel: the truth scan filters on Jaccard >= threshold, so
    // the early-exit contract holds (below-floor -1 fails identically)
    val inter = graft.functions.GraftFunctions
      .sortedIntersectCountBounded(col("a.sh"), col("b.sh"), threshold)
    val truth = docs.as("a")
      .join(broadcast(docs.as("b")), col("a.doc_id") < col("b.doc_id"))
      .withColumn("__i", inter)
      .filter(col("__i").cast("double")
        / (col("a.n_sh") + col("b.n_sh") - col("__i")).cast("double")
        >= threshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val cands = lshCandidates(
      docs.select(col("doc_id"), col("sig")), "doc_id", "sig", bands = 16)
    // ONE full-outer pair join + ONE 1-row aggregate replaces the old
    // shape (two truncations, a semi-join, three count jobs, two
    // cross-joins): both sides are unique (doc_a, doc_b) pairs, so
    // n_true/n_cand/n_tp are sums of presence flags over the outer join —
    // identical values, ~⅓ the Spark jobs (r19: job-latency dominated
    // this query, 20 jobs against 1.3 s of task time)
    val joined = truth.withColumn("__t", lit(1L))
      .join(cands.withColumn("__c", lit(1L)),
        Seq("doc_a", "doc_b"), "full_outer")
    joined.agg(
        coalesce(sum(col("__t")), lit(0L)).as("n_true"),
        coalesce(sum(col("__c")), lit(0L)).as("n_cand"),
        coalesce(sum(when(col("__t").isNotNull && col("__c").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_tp"))
      .select(lit(cap).cast("long").as("sample_cap"),
        col("n_true"), col("n_cand"), col("n_tp"),
        when(col("n_cand") > 0,
          col("n_tp").cast("double") / col("n_cand").cast("double"))
          .otherwise(lit(1.0)).as("precision"),
        when(col("n_true") > 0,
          col("n_tp").cast("double") / col("n_true").cast("double"))
          .otherwise(lit(1.0)).as("recall"))
  }

  // ---------------------------------------------------------------- A88
  /** End-to-end entity resolution as ONE composed operator — the
    * block→match→cluster→canonicalize pipeline every MDM/identity stack
    * runs, built from this repo's own primitives: FastSS deletion-
    * neighborhood candidates on hashed variants (q120, zero false
    * negatives at distance 1, 8-byte join keys), exact codegen'd
    * levenshtein verify, HashMin connected components
    * ([[Graph.components]], shared with q59), and canonical-record
    * election. With min-label
    * propagation the component label IS the minimum member key, so the
    * canonical key needs no second argmax pass — it falls out of the CC
    * labels. Every customer appears exactly once (singletons are their
    * own canonical record).
    *
    * Scale: candidate generation is the linear |name|+1 map-side fan-out;
    * the CC loop is O(E) per round on the data-dependent (and in ER,
    * sparse) match graph; the final size/name joins key on the 8-byte
    * canonical key. */
  def q180ErPipeline(spark: SparkSession, dir: String,
      maxIters: Int = 20): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"))
    // pin the variant frame at session width on the join key: the
    // customer scan is one split, so the deletion-neighborhood expansion
    // and the candidate self-join + levenshtein verify otherwise run at
    // scan/AQE-coalesced parallelism (r19 profile: a 1-task 1.2 s map +
    // a 7-task 3.8 s CPU stage on 32 cores); the rows are 16-byte
    // (custkey, hash) pairs, so the pinned exchange is ~MBs
    val numPartsQ180 = graft.GraftSession.shufflePartitions(spark)
    val variants = c.select(col("c_custkey"),
      explode(array_distinct(expr(
        "transform(sequence(0, length(c_name)), i -> if(i = 0, c_name, " +
          "concat(substring(c_name, 1, i - 1), " +
          "substring(c_name, i + 1, length(c_name)))))"))).as("v0"))
      .select(col("c_custkey"), xxhash64(col("v0")).as("v"))
      .repartition(numPartsQ180, col("v"))
    val cand = variants.as("a")
      .join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("ka"), col("b.c_custkey").as("kb"))
      .distinct()
    val pairs = cand
      .join(c.select(col("c_custkey").as("ka"), col("c_name").as("na")), Seq("ka"))
      .join(c.select(col("c_custkey").as("kb"), col("c_name").as("nb")), Seq("kb"))
      // threshold-capped levenshtein: band-pruned O(len·1) DP with early
      // exit at the cap (guide: prefer the cheaper codegen form) — returns
      // -1 above the cap, so `!= -1` selects exactly the `<= 1` pairs
      .filter(levenshtein(col("na"), col("nb"), 1) =!= -1)
      .select(col("ka"), col("kb"))
    // HashMin CC (the match graph is sparse)
    val labelsM = Graph.components(pairs, "ka", "kb", maxIters)
    try {
      val asg = c
        .join(labelsM.df.select(col("id").as("c_custkey"), col("label").as("cl")),
          Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("cl"), col("c_custkey")).as("canonical_key"))
      val sizes = asg.groupBy(col("canonical_key"))
        .agg(count(lit(1)).as("cluster_size"))
      val out = asg.join(sizes, Seq("canonical_key"))
        .join(c.select(col("c_custkey").as("canonical_key"),
          col("c_name").as("canonical_name")), Seq("canonical_key"))
        .select(col("c_custkey"), col("c_name"), col("canonical_key"),
          col("canonical_name"), col("cluster_size"))
      // the CC labels must be consumed before release: materialize —
      // eagerly, via truncate, so the returned frame registers in the
      // leak registry (lazy to the caller; drained between queries)
      graft.Lineage.truncate(out).df
    } finally labelsM.release()
  }

  // ---------------------------------------------------------------- C69
  /** Cross-document SPAN dedup — the "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al. 2022) exact-substring pass: any
    * `w`-token window that occurs in MORE THAN ONE document is removed
    * from every document, with OVERLAPPING stride-1 windows so the
    * removed region is the full union of duplicated spans (q118's
    * non-overlapping segments can only drop whole aligned lines — a span
    * straddling a segment boundary survives there; here it cannot). The
    * published implementation builds a corpus suffix array; the
    * distributed re-expression is windows→counts→span union, which needs
    * no global ordered structure and partitions like any aggregation.
    *
    * Scale: window extraction is map-only array arithmetic inside the
    * scan's codegen (×w byte fan-out is the price of overlap — the
    * suffix array pays the same ×w in suffix pointers); the dup-window
    * set is one partial-aggregable distinct-doc count keyed on the gram
    * (string key at test scale for oracle exactness; 128-bit hash + the
    * q43 collision stance at 100 TB — q118's rule); span union is a
    * (doc_id, pos) distinct — 16 B rows; reassembly is q118's one
    * groupBy(doc_id) whose state is the document itself. Membership is a
    * hash join, NOT broadcast (dup set is data-dependent, q75's rule). */
  def q170SpanDedup(spark: SparkSession, dir: String, w: Int = 5): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    // materialized once (lazily — rides the first consumer job): the ×w
    // exploded stream feeds BOTH the mark aggregation and the join probe
    val wins = graft.Lineage.truncate(
      toks.filter(size(col("ws")) >= w)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, size(ws) - $w), " +
            s"i -> array_join(slice(ws, i + 1, $w), ' '))")).as(Seq("i", "gram"))),
      eager = false).df
    // "window occurs in MORE THAN ONE distinct doc" ⟺ min(doc) ≠ max(doc)
    // — computed as a partial-aggregable groupBy over the gram stream and
    // joined back, NOT as min/max windows over Window.partitionBy(gram):
    // the window form funnels EVERY row of a gram through one task, so a
    // pathological stop-word gram (10⁸ rows at 100 TB) owns a single
    // reducer with no cap — the exact hazard Skew exists to prevent (r19
    // verdict item 4). The groupBy collapses hot grams map-side (min/max
    // partial aggregation), the dup-mark table is one row per duplicated
    // gram, and the join is unforced — AQE broadcasts it when it fits and
    // skew-splits it when it doesn't. Re-running the ×w explode on the
    // probe side is map-only codegen; the r19 window form saved that at
    // the price of the uncapped hot-gram reducer.
    val dupGrams = wins.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("gram"))
    val covered = wins
      .join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(expr(s"sequence(i, i + $w - 1)")).as("pos"))
      .distinct()
      .withColumn("__c", lit(true))
    toks.select(col("doc_id"),
        posexplode(col("ws")).as(Seq("pos", "word")))
      .join(covered, Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(expr(
          "transform(filter(array_sort(collect_list(struct(pos, word, " +
            "coalesce(__c, false) as c))), x -> not x.c), x -> x.word)"), " ")
          .as("kept_text"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("__c"), lit(1L)).otherwise(lit(0L))).as("n_removed"))
  }
}
