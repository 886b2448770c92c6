package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/**
 * Text-analysis operators for training-data pipelines: language ID, quality
 * scoring, token counting, fingerprinting. All are per-row, codegen'd
 * expressions (no UDFs) — they scale embarrassingly: a 100 TB corpus is a
 * map-only scan with full predicate/column pushdown upstream.
 *
 * Determinism: every computation here is integer arithmetic + single IEEE
 * double ops on exact integers, or md5/replace string ops with identical
 * semantics in DuckDB — hence the SQL oracles in SparkEntry.
 */
object TextAnalysis {

  /** Whitespace token count (documents are single-space separated; a plain
    * split keeps exact oracle parity — `string_split` in DuckDB). */
  def wsTokens(text: Column): Column = size(split(text, " ", -1)).cast("long")

  /** BPE-ish token count: letter runs, digit runs, single punctuation. */
  def bpeTokens(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).cast("long")

  /** Non-overlapping whole-word occurrence count via the padded-replace
    * trick: both engines scan left-to-right over the original string, so the
    * count is identical. */
  def wordHits(text: Column, word: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val target = s" $word "
    ((length(padded) - length(replace(padded, lit(target), lit(" "))))
      / (word.length + 1)).cast("long")
  }

  // ---------------------------------------------------------------- C8
  /** Stopword-profile language ID. On real corpora the marker sets dominate;
    * here it demonstrates the operator shape (scored profiles → argmax). */
  def q47LangId(spark: SparkSession, dir: String): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "a", "of"),
      "de" -> Seq("der", "und", "nicht"),
      "fr" -> Seq("le", "et", "les"),
      "es" -> Seq("el", "y", "los"))
    val d = Tables.documents(spark, dir)
    val scores = markers.view.mapValues(ws =>
      ws.map(w => wordHits(col("text"), w)).reduce(_ + _)).toMap
    val best = markers.keys.toSeq.sorted.foldLeft(lit("und")) { (acc, lang) =>
      // strictly-greater chain, evaluated in sorted order → deterministic ties
      when(scores(lang) > greatest(
        (markers.keys.toSeq.sorted.filter(_ != lang).map(scores) :+ lit(0L)): _*),
        lang).otherwise(acc)
    }
    d.select(col("doc_id"), best.as("lang_pred"),
      scores("en").as("score_en"), scores("de").as("score_de"),
      scores("fr").as("score_fr"), scores("es").as("score_es"))
  }

  // ---------------------------------------------------------------- C9
  /** Quality scoring: length, word count, average word length, stopword
    * ratio → one double score (all inputs exact ints → deterministic fp). */
  def q48QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val len = length(col("text")).cast("long")
    val words = wsTokens(col("text"))
    val stopHits = Seq("the", "a", "of", "and").map(wordHits(col("text"), _)).reduce(_ + _)
    val avgWordLen = (len - words + 1).cast("double") / words.cast("double")
    val stopRatio = stopHits.cast("double") / words.cast("double")
    d.select(
      col("doc_id"), len.as("len"), words.as("words"),
      avgWordLen.as("avg_word_len"), stopRatio.as("stop_ratio"),
      (stopRatio * 10.0 + avgWordLen).as("quality_score"))
  }

  // ---------------------------------------------------------------- C10
  def q49TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      wsTokens(col("text")).as("ws_tokens"),
      bpeTokens(col("text")).as("bpe_tokens"))

  // ---------------------------------------------------------------- C11
  /** Content fingerprint: md5 of whitespace-normalized text (oracle-able)
    * plus a Karp-Rabin-style rolling min-hash over character k-grams
    * (winnowing-lite; engine-specific xxhash64 → covered by spec). */
  def q50Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp_md5"))

  /** Rolling-hash fingerprint column: min xxhash64 over all k-grams — the
    * scale-path near-dup prefilter (one long per doc). */
  def rollingMinHash(text: Column, k: Int): Column =
    array_min(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => xxhash64(text.substr(i, lit(k)))))

  // ---------------------------------------------------------------- C17
  /** Repetition-based quality filter (the Gopher-rules shape): per document,
    * word count, distinct-word count, the most-frequent word's share, and a
    * keep flag — repetitious documents (boilerplate, keyword stuffing, decode
    * loops) are the single biggest bulk-filter in LLM corpus curation.
    *
    * Zero-shuffle: stats come from the single-pass sorted-run kernel
    * [[graft.functions.TextHashes.wordRepetitionStats]] (codegen'd, no
    * per-row map), NOT the explode + double-groupBy formulation that
    * shuffles every (doc, word) row twice; TextAnalysisSpec asserts parity
    * between the two. 100 TB posture: map-only scan. */
  /** The q64 keep predicate over a [[graft.functions.TextHashes.wordRepetitionStats]]
    * array — ONE definition shared by q64 and the streaming
    * [[graft.streaming.CurationPipeline]]. */
  def repetitionKeepExpr(stats: Column, maxTopFrac: Double,
      minDistinctRatio: Double): Column =
    (element_at(stats, 3).cast("double")
      / element_at(stats, 1).cast("double")) <= maxTopFrac &&
      (element_at(stats, 2).cast("double")
        / element_at(stats, 1).cast("double")) >= minDistinctRatio

  def q64RepetitionFilter(spark: SparkSession, dir: String,
      maxTopFrac: Double = 0.1, minDistinctRatio: Double = 0.4): DataFrame = {
    import graft.functions.TextHashFunctions
    val stats = TextHashFunctions.wordRepetitionStats(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), stats.as("__s"))
      .select(col("doc_id"),
        element_at(col("__s"), 1).as("n_words"),
        element_at(col("__s"), 2).as("n_distinct"),
        (element_at(col("__s"), 3).cast("double") /
          element_at(col("__s"), 1).cast("double")).as("top_frac"),
        (element_at(col("__s"), 2).cast("double") /
          element_at(col("__s"), 1).cast("double")).as("distinct_ratio"),
        repetitionKeepExpr(col("__s"), maxTopFrac, minDistinctRatio).as("keep"))
  }

  /** PII/number scrubbing patterns, most-specific first: emails, then
    * phone-shaped digit groups, then bare digit runs. Character-class-only
    * regexes evaluate identically under Java regex (Spark) and RE2 (DuckDB). */
  private val piiPatterns = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\+?[0-9][0-9()\\- ]{6,}[0-9]" -> "<PHONE>",
    "[0-9]+" -> "<NUM>")

  /** Redact PII-shaped spans from a string column (all occurrences). */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  // ---------------------------------------------------------------- C18
  /** PII redaction over the event-property payloads: scrubbed string plus
    * the pre-redaction hit count per pattern family. Map-only scan — the
    * regex chain is codegen'd `regexp_replace`, no UDF. */
  def q65PiiRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"),
      redactPii(col("props")).as("redacted"),
      size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
        .cast("long").as("n_num_hits"))

  // ---------------------------------------------------------------- C23
  /** Canonical text normalization — the first pass of every corpus pipeline:
    * Unicode NFC (composed/decomposed forms unify, so downstream hashes and
    * dedup see one representation), control characters stripped, space runs
    * collapsed, edges trimmed, lower-cased. Map-only scan; NFC is the
    * allocation-free kernel [[graft.functions.Normalize]] (ASCII fast path),
    * the rest codegen'd builtins. `changed` lets a pipeline route already-
    * clean documents around a rewrite. */
  /** The canonical normalization expression (NFC → control strip → space
    * collapse → trim → lower) — ONE definition shared by q70 and the
    * streaming [[graft.streaming.CurationPipeline]], so batch and stream
    * can never silently diverge. */
  def normalizeExpr(text: Column): Column = {
    import graft.functions.NormalizeFunctions.nfcNormalize
    lower(trim(regexp_replace(
      regexp_replace(nfcNormalize(text), "[\\x00-\\x1F\\x7F]", ""),
      " +", " ")))
  }

  def q70Normalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = normalizeExpr(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), norm.as("norm_text"),
        (norm =!= col("text")).as("changed"))
  }

  // ---------------------------------------------------------------- C25
  /** Top-k TF-IDF keywords per document. IDF is damped as sqrt(N/df) rather
    * than ln(N/df): ordering behavior is the same (monotone in N/df), and
    * sqrt/÷/× are IEEE-correctly-rounded in every engine while transcendental
    * ln is not — which is what makes the DuckDB oracle bit-exact.
    *
    * Scale: tf = one partial-aggregated groupBy over (doc, word); df derives
    * from the tf table (vocabulary-sized, not corpus-sized); N joins in as a
    * broadcast 1-row frame — no driver scalar, no collect. The per-doc top-k
    * is a rank cutoff, which Spark 4 partially evaluates below the shuffle
    * (WindowGroupLimit). */
  def q72Tfidf(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("word").asc)
    tf.join(df, Seq("word"))
      .crossJoin(broadcast(total))
      .withColumn("score",
        col("tf").cast("double")
          * sqrt(col("__n").cast("double") / col("df").cast("double")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        col("score"), col("rk"))
  }

  // ---------------------------------------------------------------- C19
  /** Deterministic systematic sample, stratified by source: every `stride`-th
    * document per source in doc_id order — the reproducible train/eval split
    * a data pipeline needs (same rows on every run and every engine, unlike
    * Bernoulli sampling). Spark 4 plants WindowGroupLimit-style partial
    * evaluation below the shuffle only for rank cutoffs, so this is one
    * shuffle on `source`; at 100 TB substitute the same formula over a
    * bucketed-by-source layout to avoid even that. */
  def q66StratifiedSample(spark: SparkSession, dir: String,
      stride: Int = 7): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter((col("rn") - 1) % stride === 0)
  }

  // ---------------------------------------------------------------- C51
  /** Per-source character-class composition — the encoding/garbage
    * diagnostic a crawl pipeline runs before tokenizer decisions: total
    * chars and the letter/digit/space/other split, plus the letter ratio
    * (a standard quality-filter feature alongside C9's scores). Class
    * counts are `length(text) − length(class-stripped text)` — exact
    * integers on both engines (the corpus is ASCII; for full Unicode the
    * classes widen to `\p{L}` etc., same shape); the ratio is ONE IEEE
    * division of exact integers (q98's rule).
    *
    * Scale: zero-shuffle per-row kernel inside the scan's codegen stage
    * feeding a partial-aggregated groupBy over |sources| groups. */
  def q126CharClasses(spark: SparkSession, dir: String): DataFrame = {
    def stripped(re: String): Column =
      length(col("text")) - length(regexp_replace(col("text"), re, ""))
    Tables.documents(spark, dir)
      .select(col("source"),
        length(col("text")).cast("long").as("__c"),
        stripped("[A-Za-z]").cast("long").as("__l"),
        stripped("[0-9]").cast("long").as("__d"),
        stripped(" ").cast("long").as("__s"))
      .groupBy(col("source"))
      .agg(sum(col("__c")).as("chars"), sum(col("__l")).as("letters"),
        sum(col("__d")).as("digits"), sum(col("__s")).as("spaces"))
      .select(col("source"), col("chars"), col("letters"), col("digits"),
        col("spaces"),
        (col("chars") - col("letters") - col("digits") - col("spaces"))
          .as("other"),
        (col("letters").cast("double") / col("chars").cast("double"))
          .as("letter_ratio"))
  }

  // ---------------------------------------------------------------- C58
  /** Per-document lexical diversity (Gini–Simpson index over tokens,
    * 1 − Σ(cᵢ/N)²): the repetition/diversity quality signal — near-0 means
    * the document is one token stamped N times (boilerplate, keyword spam),
    * the complement of q48's max-run repetition filter (which sees only
    * CONSECUTIVE repeats; Simpson catches interleaved ones).
    *
    * The obvious plan (explode → groupBy (doc, token) → Σc²) shuffles a
    * corpus-token-sized table. This one never leaves the scan task:
    * `array_sort` makes equal tokens adjacent (ANY total order groups
    * equals — collation is irrelevant), then Σc² and the distinct count
    * are the [[graft.functions.SortedRuns]] native expressions — one
    * allocation-free run-length loop each inside whole-stage codegen (the
    * first implementation's filter/zip_with/aggregate HOF chain allocated
    * three index arrays per row and ran interpreted lambdas; same
    * contract, ~2× measured; `graft.tools.Profile <sfDir>
    * q141_simpson` times it). Zero shuffle, linear in
    * tokens after the
    * O(n log n) in-task sort. Σc² and N are exact BIGINTs; the index is
    * ONE IEEE division of (N²−Σc²) by N². */
  def q141SimpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), array_sort(split(col("text"), " ")).as("s"))
      .withColumn("n", size(col("s")).cast("long"))
      .withColumn("sumsq", graft.functions.SortedRuns.sortedRunSumSq(col("s")))
      .select(col("doc_id"), col("n").as("n_tokens"),
        graft.functions.SortedRuns.sortedRunCount(col("s")).as("n_distinct"),
        col("sumsq"),
        ((col("n") * col("n") - col("sumsq")).cast("double")
          / (col("n") * col("n")).cast("double")).as("simpson"))

  // ---------------------------------------------------------------- C80
  /** Language-ID confusion matrix — the model-eval report for C8 (every
    * classifier that gates corpus admission needs one before anyone
    * trusts its filter decisions): predicted vs true language cross-tab
    * with per-true-class share (row-normalized recall). The 'und'
    * fallback column shows exactly where the marker heuristic abstains.
    *
    * Scale: the prediction is q47's map-only codegen'd scan; the
    * cross-tab is a ≤|langs|²-group partial aggregate; share is ONE IEEE
    * division of exact counts over the per-true-class window on the
    * aggregated dimension-bounded frame (q116's rule). */
  def q184LangConfusion(spark: SparkSession, dir: String): DataFrame = {
    val pred = q47LangId(spark, dir).select(col("doc_id"), col("lang_pred"))
    val truth = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val cells = truth.join(pred, Seq("doc_id"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang"))
    cells.withColumn("share",
        col("n").cast("double") / sum(col("n")).over(w).cast("double"))
      .withColumn("hit", col("lang") === col("lang_pred"))
  }

  // ---------------------------------------------------------------- C74
  /** RAKE keyword extraction (Rose et al. 2010, the statistical-phrase
    * complement of q72's TF-IDF unigrams): documents segment into
    * candidate phrases at stopwords, each word accumulates freq (its
    * occurrences in phrases) and degree (the summed length of every
    * phrase it occurs in — co-occurrence reach), and phrases rank by
    * score. This variant scores a phrase as `Σdeg / Σfreq` over its words
    * — ONE IEEE division of two exact integer sums, engine-identical —
    * rather than RAKE's Σ(deg/freq), whose per-word double sum would
    * reassociate differently across engines (q93's rule; the ordering the
    * two variants induce agrees except where fp noise would have decided).
    *
    * Scale: segmentation is map-only array arithmetic in the scan's
    * codegen stage (running stopword count splits each doc into
    * segments); word stats are one partial-agged |vocab|-bounded groupBy
    * joined back by word (unforced — vocab outgrows broadcast, q119's
    * rule); phrase rollup partial-aggregates on the phrase string; top-k
    * is rank-after-TakeOrdered (q74's shape). */
  def q176RakeKeywords(spark: SparkSession, dir: String, k: Int = 20,
      stops: Seq[String] = Seq("a", "the")): DataFrame = {
    val stopLit = stops.map(s => "'" + s.replace("'", "\\'") + "'")
      .mkString("array(", ", ", ")")
    // (doc, seg, pos, word) with seg = running count of stopwords — each
    // stopword starts a new segment and is excluded from it; ONE linear
    // codegen'd fold per doc (a prefix-count-per-position formulation
    // would be quadratic per doc)
    // words feeds three plan branches (phrases, word stats, instance
    // sums) — materialize ONCE or the segmentation fold re-executes per
    // reference (q106's rule)
    // NOT fanned out: an r19 A/B measured the doc_id fan-out flat on wall
    // (2.71 → 2.52 s) while ×10-ing task time with GC churn — the fold is
    // only ~1.3 s of CPU, too small to amortize a text exchange (same
    // verdict as the q43-family fan-outs; contrast q247 where it paid)
    val words = graft.Lineage.truncate(
      Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), posexplode(expr(
          "aggregate(ws, " +
            "struct(0 as seg, " +
            "  cast(array() as array<struct<word:string, seg:int>>) as out), " +
            s"(acc, w) -> if(array_contains($stopLit, w), " +
            "  struct(acc.seg + 1 as seg, acc.out as out), " +
            "  struct(acc.seg as seg, " +
            "    concat(acc.out, array(struct(w as word, acc.seg as seg))) as out)), " +
            "acc -> acc.out)")).as(Seq("pos", "x")))
        .select(col("doc_id"), col("x.seg").as("seg"), col("pos"),
          col("x.word").as("word")),
      eager = false).df
    val phrases = graft.Lineage.truncate(
      words.groupBy(col("doc_id"), col("seg"))
        .agg(array_join(expr("transform(array_sort(collect_list(" +
          "struct(pos, word))), x -> x.word)"), " ").as("phrase"),
          count(lit(1)).as("plen")),
      eager = false).df
    // word stats over phrase occurrences: freq = occurrences, deg = Σ plen
    val stats = words.join(
        phrases.select(col("doc_id"), col("seg"), col("plen")),
        Seq("doc_id", "seg"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
    val scored = words
      .join(stats, Seq("word"))
      .groupBy(col("doc_id"), col("seg"))
      .agg(sum(col("deg")).as("sum_deg"), sum(col("freq")).as("sum_freq"))
      .join(phrases, Seq("doc_id", "seg"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        max(col("sum_deg")).as("sum_deg"), max(col("sum_freq")).as("sum_freq"))
      .withColumn("score",
        col("sum_deg").cast("double") / col("sum_freq").cast("double"))
    scored.orderBy(col("score").desc, col("n_occurrences").desc,
        col("phrase").asc).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("n_occurrences").desc,
          col("phrase").asc)).cast("long"))
      .select(col("rk"), col("phrase"), col("n_occurrences"),
        col("sum_deg"), col("sum_freq"), col("score"))
  }

  // ---------------------------------------------------------------- C107
  /** Language similarity matrix — cosine between per-language character
    * 3-gram COUNT profiles (which language pairs genuinely look alike —
    * the prior that explains C80's confusion matrix: a lang-ID mistake
    * between profile-similar languages is expected, one between distant
    * ones is a bug): profiles are exact integer counts, so dot products
    * and norms are exact bigints and each cosine is one IEEE expression.
    *
    * Scale: profiles aggregate to (lang, gram) — gram vocabulary is
    * alphabet-bounded, langs are a dimension; the pair dot product is a
    * hash join on gram between two |langs|·|grams| frames (salt the gram
    * key if one gram dominates), ≤\|langs\|² output. */
  def q247LangSimilarity(spark: SparkSession, dir: String): DataFrame = {
    // fan the per-character gram expansion out to session width when the
    // scan under-splits (q228's codec device — the |text| substring calls
    // per row are CPU-heavy enough to amortize the one-file-split
    // exchange; r19 profile: a single task carried 3.1 s of the query's
    // 4.1 s wall)
    val grams = Skew.fanOutForCpu(
        Tables.documents(spark, dir).select(
          col("doc_id"), col("lang"), col("text")), "doc_id")
      .select(col("lang"), col("text"))
      .select(col("lang"), posexplode(expr(
        "transform(sequence(1, greatest(length(text) - 2, 1)), " +
          "i -> substring(text, i, 3))")).as(Seq("__p", "gram")))
      .filter(length(col("gram")) === 3)
      .groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    // the profile feeds THREE plan branches (norms + both join sides) —
    // materialize once (q106's rule; returned frames keep their
    // checkpoint, q85's pattern)
    val prof = graft.Lineage.truncate(grams, eager = false).df
    val norms = prof.groupBy(col("lang"))
      .agg(sum(col("cnt") * col("cnt")).as("nrm2"))
    prof.select(col("lang").as("lang_a"), col("gram"), col("cnt").as("ca"))
      .join(prof.select(col("lang").as("lang_b"), col("gram"),
        col("cnt").as("cb")), Seq("gram"))
      .filter(col("lang_a") < col("lang_b"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(sum(col("ca") * col("cb")).as("dot"))
      .join(norms.select(col("lang").as("lang_a"),
        col("nrm2").as("na")), Seq("lang_a"))
      .join(norms.select(col("lang").as("lang_b"),
        col("nrm2").as("nb")), Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("dot"),
        (col("dot").cast("double")
          / (sqrt(col("na").cast("double"))
            * sqrt(col("nb").cast("double")))).as("cosine"))
  }
  /** Type-token ratio per document — the lexical-diversity readability
    * metric (low TTR = repetitive/templated text, the cheap cousin of
    * q64's windowed repetition and q141's Simpson index): distinct words
    * over total words, both exact counts (two-phase Expand distinct),
    * one IEEE division. */
  def q235Ttr(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"))

  // ---------------------------------------------------------------- C92
  /** Longest identical-token run per document — the degenerate-loop
    * detector ("the the the …") that catches what q64's windowed
    * repetition RATIO dilutes: a long document with one pathological burst
    * can pass a global ratio test while being exactly the model-collapse
    * artifact a filter exists to drop. Emits each document's longest run
    * and the repeated token (longest run, then lexicographically-least
    * token — total order).
    *
    * Scale: the gaps-and-islands identity — island id = pos − rank within
    * (doc, token) — turns run detection into two hash aggregations; every
    * window partitions by doc_id (parallel, never global). Counts are
    * exact integers; the argmax tie-break is a deterministic min-struct. */
  def q215TokenRuns(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ", -1)).as(Seq("pos", "word")))
    val byWord = Window.partitionBy(col("doc_id"), col("word"))
      .orderBy(col("pos"))
    val runs = toks
      .withColumn("island", col("pos") - row_number().over(byWord))
      .groupBy(col("doc_id"), col("word"), col("island"))
      .agg(count(lit(1)).as("run"))
    runs.groupBy(col("doc_id"))
      .agg(min(struct((-col("run")).as("neg"), col("word"))).as("best"))
      .select(col("doc_id"), (-col("best.neg")).as("max_run"),
        col("best.word").as("run_word"))
  }

  // ---------------------------------------------------------------- C93
  /** Winnowing fingerprints (Schleimer-Wilkerson-Aiken 2003 — the MOSS
    * algorithm): per document, hash every k-gram of tokens, slide a
    * w-gram window, and keep each window's MINIMAL hash (ties → rightmost
    * position) — a position-robust fingerprint set with guaranteed
    * coverage (any match of length ≥ w+k−1 shares a fingerprint), the
    * principled middle ground between q50's single rolling hash and
    * q41's probabilistic MinHash.
    *
    * Exactness: the hash is the first 8 hex chars of md5 (engine-identical;
    * fixed-width lowercase hex compares as the number), selection is a
    * per-window min + rightmost-tie argmax — all expressible in both
    * engines, so the fingerprint SET has an exact oracle. Scale: windows
    * come from a ×w positional explode of the gram frame (w is a small
    * constant), the min is one (doc, window-start) aggregation, and the
    * tie-resolving join keys on the same aggregated frame — hash
    * shuffles only; everything partitions by doc. */
  def q217Winnowing(spark: SparkSession, dir: String, k: Int = 3,
      w: Int = 4): DataFrame = {
    // the gram frame feeds TWO plan branches (window replication + the
    // per-doc max-pos bound) — materialize once or the document scan and
    // md5 hashing run twice (q106's rule)
    val grams = graft.Lineage.truncate(
      Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
        .filter(size(col("ws")) >= k + w - 1)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, size(ws) - $k), " +
            s"i -> substring(md5(array_join(slice(ws, i + 1, $k), ' ')), 1, 8))"))
          .as(Seq("pos", "h"))), eager = false).df
    // window starting at s covers gram positions [s, s+w-1]: replicate each
    // gram into the ≤w windows containing it (bounded ×w map-side)
    val inWindow = grams
      .withColumn("s", explode(expr(
        s"sequence(greatest(pos - ${w - 1}, 0), pos)")))
    val nGrams = grams.groupBy(col("doc_id"))
      .agg(max(col("pos")).as("max_pos"))
    val valid = inWindow.join(nGrams, Seq("doc_id"))
      .filter(col("s") <= col("max_pos") - (w - 1))
    val selected = valid
      .groupBy(col("doc_id"), col("s"))
      // min hash, rightmost tie: min over (hash asc, -pos asc)
      .agg(min(struct(col("h"), (-col("pos")).as("np"))).as("m"))
      .select(col("doc_id"), col("m.h").as("fp_hash"),
        (-col("m.np")).cast("long").as("fp_pos"))
      .distinct()
    selected.select(col("doc_id"), col("fp_pos"), col("fp_hash"))
  }

  // ---------------------------------------------------------------- C108
  /** Gopher-style quality RULE screen (Rae et al. 2021's repetition-free
    * subset — the hard-cutoff companion to C9's continuous score: rules
    * give an auditable KEEP/DROP with named reasons, scores give a
    * ranking): per document, the rule inputs (word count, mean word
    * length, share of words containing a letter, stopword hits) plus one
    * boolean per rule and the conjunction verdict.
    *
    * Exactness: word counts/lengths are exact integers on the single-
    * space split (q49's convention); mean word length and the alpha
    * share are ONE division of exact ints each; rule edges compare
    * integers cross-multiplied (`alpha_words · 10 ≥ words · 8` rather
    * than a double ≥ 0.8 — no fp boundary straddle). Scale: map-only
    * codegen'd scan, no UDF, no shuffle. */
  def q248GopherRules(spark: SparkSession, dir: String,
      minWords: Int = 15, maxWords: Int = 100000,
      minMeanLen: Int = 2, maxMeanLen: Int = 10,
      minStopHits: Int = 2): DataFrame = {
    val d = Tables.documents(spark, dir)
    val ws = split(col("text"), " ", -1)
    val words = size(ws).cast("long")
    val chars = (length(col("text")) - (size(ws) - 1)).cast("long")
    val alphaWords = size(filter(ws, w => w.rlike("[a-zA-Z]"))).cast("long")
    val stops = Seq("the", "a", "of", "and", "to", "in")
    val stopHits = size(filter(ws, w => w.isin(stops.map(lit): _*))).cast("long")
    d.select(col("doc_id"), words.as("words"), chars.as("word_chars"),
        alphaWords.as("alpha_words"), stopHits.as("stop_hits"))
      .select(col("doc_id"), col("words"),
        (col("word_chars").cast("double") / col("words").cast("double"))
          .as("mean_word_len"),
        (col("alpha_words").cast("double") / col("words").cast("double"))
          .as("alpha_share"),
        col("stop_hits"),
        (col("words") >= minWords && col("words") <= maxWords)
          .as("ok_word_count"),
        (col("word_chars") >= col("words") * minMeanLen &&
          col("word_chars") <= col("words") * maxMeanLen)
          .as("ok_mean_word_len"),
        (col("alpha_words") * 10 >= col("words") * 8).as("ok_alpha_share"),
        (col("stop_hits") >= minStopHits).as("ok_stopwords"))
      .withColumn("keep",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_alpha_share") && col("ok_stopwords"))
  }

  // ---------------------------------------------------------------- C113
  /** Per-language STOPWORD profile — the marker-word rates the C8
    * language-ID actually keys on, surfaced as a table (which stopwords
    * separate which languages, and whether a language's profile is flat
    * — the feature-importance view of the classifier): one row per
    * (lang, stopword) with exact whole-word hit counts, the language's
    * word total, and the rate per 1000 words.
    *
    * Exactness: hits ride the padded-replace whole-word trick (q48's
    * convention — both engines scan left-to-right); the rate is ONE
    * division of exact integers (hits·1000 / words). Scale: map-only
    * per-doc hit counting (the stopword set is a constant-folded
    * literal), one partial-agged rollup to ≤\|langs\|·\|stopwords\|
    * rows. */
  def q260StopwordProfile(spark: SparkSession, dir: String,
      stops: Seq[String] = Seq("the", "a", "of", "and", "to", "in")): DataFrame = {
    val d = Tables.documents(spark, dir)
    val perDoc = d.select(col("lang") +: wsTokens(col("text")).as("words") +:
      stops.map(w => wordHits(col("text"), w).as(s"h_$w")): _*)
    val agg = perDoc.groupBy(col("lang"))
      .agg(sum(col("words")).as("words"),
        stops.map(w => sum(col(s"h_$w")).as(s"h_$w")): _*)
    agg.select(col("lang"), col("words"),
        explode(array(stops.map(w =>
          struct(lit(w).as("stopword"), col(s"h_$w").as("hits"))): _*))
          .as("x"))
      .select(col("lang"), col("x.stopword").as("stopword"),
        col("x.hits").as("hits"), col("words").as("lang_words"),
        ((col("x.hits") * 1000L).cast("double")
          / col("words").cast("double")).as("per_1k_words"))
  }

  // ---------------------------------------------------------------- C109
  /** Keyword-in-context (KWIC) extraction — the concordance view every
    * corpus audit starts from (what surrounds this term?): for documents
    * containing `term` as a whole word, the occurrence count, the
    * 1-based character offset of the first hit, and a fixed window of
    * text around it.
    *
    * Exactness: occurrence count rides the padded-replace whole-word
    * trick (q48's `wordHits` — both engines scan left-to-right);
    * position/substring are byte-identical string ops on single-space
    * text; the window clamps identically at both ends (substr on an
    * out-of-range start yields the same truncation in both engines when
    * the start is computed with the same `greatest`). Scale: map-only
    * scan, predicate `hits > 0` pushed at the scan. */
  def q250Kwic(spark: SparkSession, dir: String, term: String = "spark",
      window: Int = 20): DataFrame = {
    require(term.matches("[a-z0-9]+"), "term must be a plain lowercase word")
    val hits = wordHits(col("text"), term)
    val pos = instr(concat(lit(" "), col("text"), lit(" ")),
      s" $term ") // whole-word first hit in padded text = 1-based offset
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"), hits.as("n_hits"),
        pos.as("padded_pos"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("lang"), col("n_hits"),
        col("padded_pos").cast("long").as("first_pos"),
        substring(col("text"),
          greatest(col("padded_pos") - window, lit(1)).cast("int"),
          lit(term.length + 2 * window)).as("context"))
  }

  // ---------------------------------------------------------------- C114
  /** Lexical-complexity (readability) profile per language: syllables
    * per word via the vowel-group heuristic, plus complex-word (≥3
    * syllable groups) and monosyllable shares — the Flesch/Gunning-Fog
    * ingredient pair computed over a corpus with no sentence punctuation
    * (so the word-level half is the meaningful one, and the one shipped).
    *
    * Exactness: syllable counts are regex-match counts (the class
    * `[aeiouy]+` means the same thing to Java regex and RE2), every
    * rollup is an integer sum, and each share/average is ONE division of
    * exact sums. Scale: map-only higher-order array ops per row (inside
    * codegen), then a partial-agged groupBy to ≤|langs| rows. */
  def q265LexicalComplexity(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ", -1)
    val syls = transform(words,
      w => size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))))
    val perDoc = Tables.documents(spark, dir).select(col("lang"),
      size(words).cast("long").as("n_words"),
      aggregate(syls, lit(0L), (acc, x) => acc + x).as("n_syl"),
      size(filter(syls, _ >= 3)).cast("long").as("n_complex"),
      size(filter(syls, _ <= 1)).cast("long").as("n_mono"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_syl")).as("n_syllables"),
        sum(col("n_complex")).as("n_complex"),
        sum(col("n_mono")).as("n_mono"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_syllables"),
        (col("n_syllables").cast("double") / col("n_words").cast("double"))
          .as("syl_per_word"),
        (col("n_complex").cast("double") / col("n_words").cast("double"))
          .as("complex_share"),
        (col("n_mono").cast("double") / col("n_words").cast("double"))
          .as("mono_share"))
  }

  // ---------------------------------------------------------------- C118
  /** Hapax-legomena profile per source — the share of vocabulary (and of
    * tokens) that occurs exactly ONCE in the source's corpus: the
    * long-tail health check tokenizer and dedup decisions key on (a
    * hapax-heavy source is OCR noise / ids / unseen domain; a hapax-poor
    * one is templated), sharpening C101's per-doc TTR to the corpus
    * level where Zipf actually bites.
    *
    * Exactness: all counts are exact integers from one (source, word)
    * frequency table (hapax tokens = hapax types by definition — each
    * contributes exactly one token); the two shares are one IEEE
    * division each. Scale: explode → ONE partial-agged (source, word)
    * count (the same shuffle any vocabulary pass pays) → ≤\|sources\|
    * rollup; no distinct-within-agg Expand. */
  def q283HapaxProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("freq"))
      .groupBy(col("source"))
      .agg(sum(col("freq")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_type_share"),
        (col("n_hapax").cast("double") / col("n_tokens").cast("double"))
          .as("hapax_token_share"))

  // ---------------------------------------------------------------- C120
  /** Per-language length-outlier screen: documents more than two
    * population standard deviations from their language's mean length —
    * the truncation/concatenation-artifact detector (a doc 5σ long is
    * two docs glued together; 5σ short is a fragment), scoped per
    * language because length distributions differ by script.
    *
    * Exactness: ZERO floating point in the decision — |z| > 2 ⇔
    * (n·x − Σx)² > 4·(n·Σx² − (Σx)²), all exact integers compared as
    * DECIMAL(38,0) (n·Σx² overflows i64 on a 100 TB corpus); only the
    * reported mean/share divide. Scale: one ≤\|langs\| stats rollup
    * broadcast back onto the per-doc scan — two passes, both partial-
    * agged / map-only. */
  def q294DoclenOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("lang"),
      col("n_chars").cast("long").as("x"))
    val stats = d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(38, 0))).as("sx2"))
    val dev = (col("n").cast(DecimalType(38, 0)) * col("x") - col("sx"))
    val spread = (col("n").cast(DecimalType(38, 0)) * col("sx2")
      - col("sx").cast(DecimalType(38, 0)) * col("sx"))
    d.join(broadcast(stats), Seq("lang"))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        max((col("sx").cast("double") / col("n").cast("double")))
          .as("mean_chars"),
        sum(when(dev * dev > lit(4).cast(DecimalType(38, 0)) * spread, 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("lang"), col("n_docs"), col("mean_chars"), col("n_outliers"),
        (col("n_outliers").cast("double") / col("n_docs").cast("double"))
          .as("outlier_share"))
  }
}
