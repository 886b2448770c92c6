package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{CharNgramHashes, DotProduct, L1Distance, MinHashSig,
  NfcNormalize, SimHash64, SortedIntersectCount, SortedRunCount,
  SortedRunSumSq, WordRepetitionStats, WordShingleHashes}

/**
 * Session entry point — the role TiFlinkApp.Builder's environment setup plays
 * (reference: TiFlinkApp.java:241-268: execution environment, checkpointing,
 * catalog registration). graft tunes a SparkSession for the engine's
 * workloads and registers its native functions through the public
 * [[SparkSessionExtensions]] hook, so `spark.sql("... sorted_intersect_count(a,b)")`
 * works for SQL users too.
 *
 * Scale defaults: AQE on (runtime re-planning + skew-join splitting),
 * shuffle partitions sized by the caller (32 locally; on a cluster,
 * 2-3× total cores), UTC session time.
 *
 * Generated-code cache: Catalyst keys its compiled classes by source text
 * in a JVM-wide cache of `spark.sql.codegen.cache.maxEntries` entries
 * (Spark's default: 100). A perfbench `streaming` JVM (rounds of a
 * [[graft.streaming.MaterializedView]] commit plus a
 * [[graft.streaming.JoinMv]] batch) compiles 176 distinct generated
 * classes, and one that also runs the heavy board queries (`board_heavy`)
 * 323. At 100 entries the LRU evicts a round's classes before the next
 * round needs them, so every steady-state round recompiled ~160 classes
 * with Janino (perfbench `streaming` on 4 cores: 9.9 s median round
 * latency, 6.4 s without the recompiles). [[CodegenCacheEntries]] keeps
 * several times the measured working set resident; steady-state rounds
 * then compile nothing. The setting is static: it takes effect only if
 * this builder creates the JVM's first session (before anything touches
 * Catalyst's code generator).
 *
 * Local file system: without the native `libhadoop`, which Spark's jars do
 * not ship, Hadoop's `RawLocalFileSystem.setPermission` forks a `chmod`
 * process, and Hadoop calls it for every file it creates with a permission
 * and every directory it makes: three forks per parquet part file (its
 * bucket directory, the file, its `.crc`), plus the streaming checkpoint's
 * offset and commit files through `FileContext`. A perfbench `streaming`
 * run (4 rounds) forked 1,781 `chmod`s, 490–550 in each steady-state
 * round; the heavy board queries 63. The builder points both of Hadoop's
 * `file` schemes (`fs.file.impl`, `fs.AbstractFileSystem.file.impl`) at
 * [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]], which set the same
 * modes through `java.nio` and still write and verify `.crc` checksums; a
 * `streaming` run then forks none. Like the codegen cache size, this takes
 * effect only if graft's session creates the JVM's first `file://`
 * `FileSystem`: Hadoop caches file systems by scheme and user, not by
 * configuration.
 */
object GraftSession {

  private type Expr = org.apache.spark.sql.catalyst.expressions.Expression

  /** Int value of a literal argument (e.g. the `k` of a shingle size) —
    * kernel parameters are codegen'd into the expression, so they must be
    * known at plan time. */
  private def litInt(name: String, e: Expr): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal INT parameter, got: $other")
  }

  private final case class NativeFn(
      name: String, arity: Int, cls: Class[_], build: Seq[Expr] => Expr) {
    /** Arity-checked builder: a wrong argument count fails with the
      * function's signature, not an IndexOutOfBoundsException. */
    def checked: Seq[Expr] => Expr = cs => {
      if (cs.length != arity)
        throw new IllegalArgumentException(
          s"$name expects $arity argument(s), got ${cs.length}")
      build(cs)
    }
  }

  /** The engine's native SQL surface: every custom Catalyst expression,
    * name → builder. One list feeds both registration paths (extension
    * injection at session build; temp-function on a live session). */
  private val nativeFunctions: Seq[NativeFn] = Seq(
    NativeFn("sorted_intersect_count", 2, classOf[SortedIntersectCount],
      cs => SortedIntersectCount(cs(0), cs(1))),
    NativeFn("dot_product", 2, classOf[DotProduct],
      cs => DotProduct(cs(0), cs(1))),
    NativeFn("l1_distance", 2, classOf[L1Distance],
      cs => L1Distance(cs(0), cs(1))),
    NativeFn("nfc_normalize", 1, classOf[NfcNormalize],
      cs => NfcNormalize(cs(0))),
    NativeFn("simhash64", 1, classOf[SimHash64],
      cs => SimHash64(cs(0))),
    NativeFn("word_repetition_stats", 1, classOf[WordRepetitionStats],
      cs => WordRepetitionStats(cs(0))),
    NativeFn("word_shingle_hashes", 2, classOf[WordShingleHashes],
      cs => WordShingleHashes(cs(0), litInt("word_shingle_hashes", cs(1)))),
    NativeFn("char_ngram_hashes", 2, classOf[CharNgramHashes],
      cs => CharNgramHashes(cs(0), litInt("char_ngram_hashes", cs(1)))),
    NativeFn("minhash_sig", 2, classOf[MinHashSig],
      cs => MinHashSig(cs(0), litInt("minhash_sig", cs(1)))),
    NativeFn("sorted_run_sumsq", 1, classOf[SortedRunSumSq],
      cs => SortedRunSumSq(cs(0))),
    NativeFn("sorted_run_count", 1, classOf[SortedRunCount],
      cs => SortedRunCount(cs(0))))

  /** Extension installable via
    * `spark.sql.extensions=graft.GraftSession$Extensions`. */
  class Extensions extends (SparkSessionExtensions => Unit) {
    override def apply(ext: SparkSessionExtensions): Unit =
      nativeFunctions.foreach { fn =>
        ext.injectFunction((
          new FunctionIdentifier(fn.name),
          new ExpressionInfo(fn.cls.getName, fn.name),
          fn.checked))
      }
  }

  /** The session's shuffle-partition count as an Int, falling back to
    * the context default parallelism when the conf is non-numeric
    * (platforms running AQE coalescing may set it to "auto") — the one
    * shared read behind every explicit repartition width in graft, so
    * the fallback cannot be fixed in one operator and missed in another. */
  def shufflePartitions(spark: SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .toOption.filter(_ > 0)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** How many rows of a narrow frame fit under the session's
    * `spark.sql.autoBroadcastJoinThreshold` at `bytesPerRow` (a
    * conservative per-row HashedRelation estimate — key + row + table
    * overhead). 0 when auto-broadcast is disabled (threshold ≤ 0), so a
    * `rows <= broadcastRowBudget(...)` guard degrades to never-hint —
    * the scale guard behind the CC loops' per-round broadcast hint
    * (broadcast only when the OBSERVED materialized side provably fits;
    * a corpus-scale label table keeps the shuffle join). */
  def broadcastRowBudget(spark: SparkSession, bytesPerRow: Int = 64): Long = {
    val bytes = scala.util.Try(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")))
      .getOrElse(10L << 20)
    if (bytes <= 0) 0L else bytes / bytesPerRow
  }

  /** Register graft's native SQL functions on an existing session. */
  def registerFunctions(spark: SparkSession): Unit =
    nativeFunctions.foreach { fn =>
      org.apache.spark.sql.GraftColumnBridge.registerTempFunction(
        spark, fn.name, fn.checked)
    }

  /** Generated classes kept compiled per JVM: about 6× the 323 measured
    * for streaming plus the heavy board in one JVM (see the object doc). */
  val CodegenCacheEntries = 2000

  def builder(appName: String = "graft",
      master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.extensions", classOf[Extensions].getName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", true)
      .config("spark.sql.adaptive.skewJoin.enabled", true)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // TIMESTAMP(NANOS) parquet (events table) reads as a nanos long
      // instead of [PARQUET_TYPE_ILLEGAL]; Tables.events rebuilds a µs
      // timestamp from it. Session-level so no operator mutates conf.
      .config("spark.sql.legacy.parquet.nanosAsLong", true)
}
