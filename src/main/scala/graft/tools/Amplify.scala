package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * Deterministic scale-factor amplifier: derives an sf(N·x) dataset from an
 * existing testdata directory by replicating every FACT table x times with
 * key-shifted copies — the device behind the SURVEY §6 scaling curve
 * (t(sf1)/t(sf0.1) per query), run builder-side because the driver ships
 * testdata only up to sf0.1.
 *
 * Semantics mirror how TPC-H scales: `region`/`nation` stay fixed;
 * customer/supplier/part/orders/lineitem/events/documents/embeddings grow
 * linearly. Copy c shifts every primary key by c·(max(key)+1) and shifts
 * FOREIGN keys by the same table-specific offsets, so each copy joins
 * against its own copy of its dimensions — join fan-outs, group
 * cardinalities, and dup-cluster structure scale linearly instead of
 * degenerating (naive row duplication would give every document 9 exact
 * twins and every embedding 9 zero-distance neighbors, turning the dedup
 * and ANN benches into a different workload entirely). Document text gets
 * a one-token per-copy suffix and embeddings a 1e-4 first-dimension nudge
 * for c>0: statistically negligible, but exact-dup and zero-distance
 * degeneracy are avoided.
 *
 * Two copy-decorrelation modes (4th arg):
 *   - `dense` (default): copies differ by one appended text token / a
 *     1e-4 first-dimension nudge — copies are NEAR-DUPLICATES of each
 *     other, so near-dup/LSH bucket populations grow ×factor and capped
 *     pair machinery does up to ×factor² work. The ADVERSARIAL curve: a
 *     corpus whose duplicate density grows with size.
 *   - `organic`: per-copy ISOMETRIC transforms — text through a copy-
 *     keyed letter substitution (within-copy shingle/dup structure
 *     byte-exact, cross-copy shingles fully decorrelated, lengths and
 *     token boundaries preserved so n_chars stays truthful), embeddings
 *     through a per-copy dimension ROTATION (within-copy distances
 *     exactly preserved, cross-copy similarities scrambled). The
 *     ORGANIC curve: ×factor data with the ORIGINAL duplicate density.
 *
 *   tools/run.sh graft.tools.Amplify /root/testdata/sf0.1 /tmp/sf1 10 organic
 */
object Amplify {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val organic = args.length > 3 && args(3) == "organic"
    // the per-copy letter rotation degenerates to the identity at
    // c % 26 == 0, silently reintroducing the exact-duplicate copies
    // organic mode exists to avoid — refuse rather than mislead
    require(!organic || factor <= 26,
      s"organic mode decorrelates at most 26 copies (letter-rotation " +
        s"period); factor=$factor would make copy 26 byte-identical to copy 0")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.builder("graft-amplify", s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def offsetOf(t: String, key: String): Long =
      read(t).agg(max(col(key))).head.getLong(0) + 1L

    val custOff = offsetOf("customer", "c_custkey")
    val suppOff = offsetOf("supplier", "s_suppkey")
    val partOff = offsetOf("part", "p_partkey")
    val orderOff = offsetOf("orders", "o_orderkey")
    val docOff = offsetOf("documents", "doc_id")
    val vecOff = offsetOf("embeddings", "vec_id")
    val eventOff = offsetOf("events", "event_id")
    val userOff = read("events").agg(max(col("user_id"))).head.getLong(0) + 1L

    val copies = spark.range(factor).withColumnRenamed("id", "__c")
    def amplify(t: String, outParts: Int)(
        shift: DataFrame => DataFrame): Unit = {
      val in = read(t)
      val out = shift(in.crossJoin(broadcast(copies)))
        .select(in.columns.map(col): _*) // original schema, __c dropped
      out.repartition(outParts)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"[amplify] $t: ${in.count()} -> ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    def shiftKeys(cols: (String, Long)*)(df: DataFrame): DataFrame =
      cols.foldLeft(df) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + col("__c") * lit(off)) }

    // dimensions stay fixed (copied verbatim, like TPC-H nation/region)
    Seq("region", "nation").foreach { t =>
      read(t).write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"[amplify] $t: copied verbatim")
    }

    amplify("customer", 4) { df =>
      val shifted = shiftKeys("c_custkey" -> custOff)(df)
      if (!organic) shifted
      else
        // entity-resolution surface: verbatim copy names sit at edit
        // distance 0 and fuse every copy into one CC component (q180's
        // candidate volume then grows ×factor²). A 2-char repeated-digit
        // suffix puts copies at levenshtein 2 — outside FastSS's
        // distance-1 neighborhood — while within-copy name structure
        // stays byte-exact.
        shifted.withColumn("c_name", when(col("__c") === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit("~"),
            col("__c").cast("string"), col("__c").cast("string"))))
    }
    amplify("supplier", 2)(shiftKeys("s_suppkey" -> suppOff))
    amplify("part", 4)(shiftKeys("p_partkey" -> partOff))
    amplify("orders", 8)(shiftKeys(
      "o_orderkey" -> orderOff, "o_custkey" -> custOff))
    amplify("lineitem", 16)(shiftKeys(
      "l_orderkey" -> orderOff, "l_partkey" -> partOff,
      "l_suppkey" -> suppOff))
    // same time range at x the event density (a busier site, not a longer
    // history) — window/sessionize group counts scale with users
    amplify("events", 8)(shiftKeys(
      "event_id" -> eventOff, "user_id" -> userOff))
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    amplify("documents", 8) { df =>
      val shifted = shiftKeys("doc_id" -> docOff)(df)
      if (!organic)
        shifted.withColumn("text", when(col("__c") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zq"),
            col("__c").cast("string"))))
      else {
        // copy-keyed letter substitution: one translate per copy value
        val cases = (1 until factor).foldLeft(col("text")) { (acc, c) =>
          val rot = alpha.drop(c % 26) + alpha.take(c % 26)
          when(col("__c") === c,
            translate(col("text"), alpha + alpha.toUpperCase,
              rot + rot.toUpperCase)).otherwise(acc)
        }
        shifted.withColumn("text", cases)
      }
    }
    amplify("embeddings", 4) { df =>
      val shifted = shiftKeys("vec_id" -> vecOff)(df)
      if (!organic)
        shifted.withColumn("embedding", when(col("__c") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, i) =>
            when(i === 0, x + (col("__c") * lit(1e-4)).cast("float"))
              .otherwise(x))))
      else
        // per-copy dimension rotation: an isometry (within-copy geometry
        // byte-exact), cross-copy dot products scrambled
        shifted.withColumn("embedding", expr(
          """concat(
               slice(embedding, cast(__c % size(embedding) + 1 as int),
                     cast(size(embedding) - __c % size(embedding) as int)),
               slice(embedding, 1, cast(__c % size(embedding) as int)))"""))
    }
    spark.stop()
  }
}
