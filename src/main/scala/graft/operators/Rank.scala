package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distributed global order statistics — `row_number() OVER (ORDER BY …)`
 * without the single-task sort Spark's empty-partition window falls into
 * (every row through ONE reducer: the canonical 100 TB cliff, called out on
 * q86's vocabulary rank before this utility existed).
 *
 * Shape: range-repartition on the sort key (so partition i holds a
 * contiguous key range, all-parallel), rank within each partition, then add
 * the per-partition row-count prefix offsets — the only driver-side values
 * are `numPartitions` counts, an aggregate, never data. Total work: one
 * range exchange + local sorts, the same cost `ORDER BY` itself pays.
 *
 * Determinism: the ranged frame is MATERIALIZED once and both passes
 * (count, rank) read that single materialization — without it the two
 * executions could re-sample range boundaries (or AQE could re-plan an
 * upstream shuffle) and the collected offsets would silently disagree with
 * the partitions the window actually ranks. Callers must pass a TOTAL
 * order (include a unique tiebreaker column) — with ties straddling a
 * boundary the split is boundary-dependent, with a total order every row
 * has exactly one rank under ANY boundary placement.
 */
object Rank {

  /** Width of the range exchange — the shared "auto"-safe conf read. */
  private def rangeParts(spark: org.apache.spark.sql.SparkSession): Int =
    graft.GraftSession.shufflePartitions(spark)

  /** Append `rnCol` = 1-based global row number of `df` under `sortCols`
    * (must be a total order — include a unique tiebreaker).
    *
    * Unlike [[globalRowNumberAndTotal]] this runs NO driver action beyond
    * the range materialization: the per-partition count offsets are a
    * ≤`parts`-row broadcast self-join SUBPLAN (the [[prefixMax]] device),
    * so they ride inside the consumer's own job instead of costing a
    * collect job per call — r19 measured the collect at ~0.2-0.4 s of
    * pure job latency on each of 8 call sites. Same determinism contract:
    * offsets and rank both read the ONE materialized ranged frame. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
      rnCol: String = "rn"): DataFrame = {
    val (ranged, offsets, _) = rangedOffsets(df, sortCols, value = None)
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn(rnCol, row_number().over(w).cast("long") + col("__off"))
      .drop("__pid", "__off")
  }

  /** Append `outCol` = INCLUSIVE running sum of the long `value` over the
    * `sortCols` total order — [[prefixSumAndTotal]] without the driver
    * total (and without its collect job): per-partition sum offsets ride
    * as a broadcast subplan, exactly [[globalRowNumber]]'s shape. For
    * callers that discard the total. */
  def prefixSum(df: DataFrame, sortCols: Seq[Column], value: Column,
      outCol: String): DataFrame = {
    val (ranged, offsets, _) = rangedOffsets(df, sortCols, Some(value))
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, sum(col("__v")).over(w) + col("__off"))
      .drop("__pid", "__v", "__off")
  }

  /** [[globalRowNumber]] and [[prefixSum]] fused over ONE range exchange:
    * `rnCol` = 1-based global row number and `sumCol` = INCLUSIVE running
    * long sum of `value`, both under the same `sortCols` total order. A
    * caller that chains the two helpers (q198: shuffle position + pack
    * offsets over the same (hash, id) order) otherwise pays the range
    * repartition, the materialization, and the offset subplan TWICE for
    * byte-identical partitioning — here the ranged frame is materialized
    * once and a single per-partition aggregate carries BOTH offsets
    * (count and sum), so the second exchange disappears outright
    * (guide §2.4: two operations keyed the same way share one exchange). */
  def globalRowNumberAndPrefixSum(df: DataFrame, sortCols: Seq[Column],
      value: Column, rnCol: String, sumCol: String): DataFrame = {
    val spark = df.sparkSession
    val parts = rangeParts(spark)
    val ranged = graft.Lineage.truncate(
      df.repartitionByRange(parts, sortCols: _*)
        .withColumn("__pid", spark_partition_id())
        .withColumn("__v", value.cast("long")),
      eager = false).df
    val counts = ranged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__c"), sum(col("__v")).as("__s"))
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__c")), lit(0L)).as("__offc"),
        coalesce(sum(col("b.__s")), lit(0L)).as("__offs"))
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    val ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn(rnCol, row_number().over(w).cast("long") + col("__offc"))
      .withColumn(sumCol, sum(col("__v")).over(ws) + col("__offs"))
      .drop("__pid", "__v", "__offc", "__offs")
  }

  /** Shared no-action skeleton: range-materialize once, and derive the
    * per-partition prefix offsets (`__pid`, `__off`) plus the 1-row grand
    * total (`__N`) as PLANS over that materialization — never collected.
    * `value = None` counts rows; `Some(v)` sums `v` cast to long (exact). */
  private def rangedOffsets(df: DataFrame, sortCols: Seq[Column],
      value: Option[Column]): (DataFrame, DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val parts = rangeParts(spark)
    val base = df.repartitionByRange(parts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
    val ranged = graft.Lineage.truncate(
      value.map(v => base.withColumn("__v", v.cast("long")))
        .getOrElse(base), eager = false).df
    val perRow = value.map(_ => sum(col("__v"))).getOrElse(count(lit(1)))
    val counts = ranged.groupBy(col("__pid")).agg(perRow.as("__c"))
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__c")), lit(0L)).as("__off"))
    val total = counts.agg(coalesce(sum(col("__c")), lit(0L)).as("__N"))
    (ranged, offsets, total)
  }

  /** Append `outCol` = max of `value` over every row STRICTLY BEFORE the
    * current one in the `sortCols` total order (null for the global first
    * row) — the distributed prefix-aggregate behind order-dependent
    * operators (skyline dominance, record-breaking scans) that would
    * otherwise need `max(...) OVER (ORDER BY ...)`: an unpartitioned
    * window Spark executes on ONE task.
    *
    * Shape mirrors [[globalRowNumber]]: range-repartition on the sort key
    * (contiguous ranges, all-parallel, materialized once), per-partition
    * running max via an ordinary partitioned window, and the
    * cross-partition carry-in from a ≤`shuffle.partitions`-row per-partition
    * max table joined to itself on `pid < pid` — metadata-sized, broadcast,
    * never a data-sized collect, and value-type-generic because no driver
    * code touches the values. Pass a TOTAL order. */
  def prefixMax(df: DataFrame, sortCols: Seq[Column], value: Column,
      outCol: String): DataFrame = {
    val spark = df.sparkSession
    val parts = rangeParts(spark)
    val ranged = graft.Lineage.truncate(
      df.repartitionByRange(parts, sortCols: _*)
        .withColumn("__pid", spark_partition_id())
        .withColumn("__v", value), eager = false).df
    val pmax = ranged.groupBy(col("__pid")).agg(max(col("__v")).as("__m"))
    val prefix = pmax.as("a")
      .join(broadcast(pmax.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid")).agg(max(col("b.__m")).as("__pre"))
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.join(broadcast(prefix), Seq("__pid"))
      // greatest skips nulls: first row of the first partition → null
      .withColumn(outCol, greatest(max(col("__v")).over(w), col("__pre")))
      .drop("__pid", "__v", "__pre")
  }

  /** Append `outCol` = running sum of `value` over the `sortCols` order,
    * INCLUSIVE of the current row, plus the exact grand total — the
    * distributed prefix-sum behind CDFs and cumulative-share reports that
    * would otherwise be `sum(...) OVER (ORDER BY ...)`: one task.
    *
    * Same shape as [[globalRowNumberAndTotal]] with per-partition SUMS as
    * the carried offsets (still one number per partition to the driver —
    * metadata, never data). `value` must be integral (LONG sums — exact);
    * pass a TOTAL order. */
  def prefixSumAndTotal(df: DataFrame, sortCols: Seq[Column], value: Column,
      outCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parts = rangeParts(spark)
    val ranged = graft.Lineage.truncate(
      df.repartitionByRange(parts, sortCols: _*)
        .withColumn("__pid", spark_partition_id())
        .withColumn("__v", value.cast("long")), eager = false).df
    val sums = ranged.groupBy(col("__pid")).agg(sum(col("__v")).as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = sums.map(_._1).zip(sums.scanLeft(0L)(_ + _._2).init)
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = ranged.join(broadcast(offDf), Seq("__pid"))
      .withColumn(outCol, sum(col("__v")).over(w) + col("__off"))
      .drop("__pid", "__v", "__off")
    (out, sums.map(_._2).sum)
  }

  /** Append `outCol` = NTILE(`n`) bucket (1-based) of each row under the
    * `sortCols` total order — SQL NTILE semantics (first `N mod n` buckets
    * take the extra row) computed arithmetically from
    * [[globalRowNumberAndTotal]]'s rank: no unpartitioned window anywhere,
    * bucket boundaries are exact integer math on (rn, N). */
  def ntile(df: DataFrame, sortCols: Seq[Column], n: Int,
      outCol: String = "bucket"): DataFrame = {
    require(n > 0, s"ntile buckets must be positive, got $n")
    // deliberately the COLLECT-based rank (globalRowNumberAndTotal), not
    // the broadcast-subplan one: ntile needs the grand total, and an r19
    // A/B measured the subplan form SLOWER here — totals + offsets as
    // broadcast subplans each carry their own exchange (2-3 extra AQE
    // stage-jobs per ntile; q162 chains three), where the collected
    // offsets broadcast as a free local relation
    val (ranked, total) = globalRowNumberAndTotal(df, sortCols, "__rn")
    val q = total / n
    val r = total % n
    val cut = r * (q + 1) // rows 1..cut live in the (q+1)-sized buckets
    // SQL `div`: exact integer division (Scala Column API has no idiv).
    // The otherwise-branch divisor is clamped only to dodge div-by-zero
    // codegen when q=0 — that branch is unreachable then (rn ≤ N = cut).
    val bucket = when(col("__rn") <= lit(cut),
        expr(s"(__rn - 1) div ${q + 1} + 1"))
      .otherwise(expr(s"(__rn - ${cut + 1}) div ${math.max(q, 1)} + ${r + 1}"))
    ranked.withColumn(outCol, bucket.cast("int")).drop("__rn")
  }

  /** Append `rnCol` = 1-based row number WITHIN each `groupCols` group
    * under the `sortCols` total order, plus `nCol` = the group's row
    * count — `row_number() OVER (PARTITION BY g ORDER BY …)` without the
    * entity-sized per-group sort task a handful-of-groups partitioning
    * degenerates into (5 market segments ⇒ 5 tasks each sorting n/5 rows:
    * the q293/q310 cliff this exists to remove).
    *
    * Shape: range-repartition on (groupCols ++ sortCols) — a BIG group
    * spans many contiguous range partitions, so its sort spreads across
    * them — then rank within (partition, group) and add per-(partition,
    * group) prefix offsets. The offset table has at most one row per
    * (partition, group-touching-it) pair: ranges are contiguous, so that
    * is ≤ numPartitions + |groups| rows — metadata, computed as a
    * DataFrame (broadcast self-join, as [[prefixMax]]), never collected,
    * and MATERIALIZED once — its three consumers (offset both sides,
    * totals) must not each re-scan the full ranged frame to rebuild it.
    * Group totals ride the same count table. Callers pass a TOTAL order
    * within the group (unique tiebreaker), same contract as
    * [[globalRowNumber]]; a NULL group value is its own group (SQL
    * PARTITION BY semantics — all joins here are null-safe). */
  def groupRowNumberAndTotal(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], rnCol: String = "rn",
      nCol: String = "n"): DataFrame = {
    require(groupCols.nonEmpty,
      "groupCols must be non-empty — for a global rank use " +
        "globalRowNumberAndTotal")
    val (ranged, weights, offsets) =
      groupRangeSkeleton(df, groupCols, sortCols, weight = None)
    val totals = weights
      .groupBy(groupCols.map(c => col(c).as(s"__tg_$c")): _*)
      .agg(sum(col("__c")).as(nCol))
    val w = Window.partitionBy(col("__pid") +: groupCols.map(col): _*)
      .orderBy(sortCols: _*)
    val totOn = groupCols.map(c => col(c) <=> col(s"__tg_$c"))
      .reduce(_ && _)
    ranged
      .join(broadcast(offsets), offsetJoin(groupCols))
      .join(broadcast(totals), totOn)
      .withColumn(rnCol, row_number().over(w).cast("long") + col("__off"))
      .drop(Seq("__pid", "__opid", "__off") ++
        groupCols.map(c => s"__og_$c") ++
        groupCols.map(c => s"__tg_$c"): _*)
  }

  /** Append `outCol` = EXCLUSIVE per-group running sum of `value` (long —
    * exact) under the `sortCols` total order — `sum(v) OVER (PARTITION BY
    * g ORDER BY … ROWS UNBOUNDED PRECEDING TO -1)` without the
    * entity-sized per-group task (q71's sequence packing runs one
    * cumulative sum over EVERY chunk of a source): the
    * [[groupRowNumberAndTotal]] shape with per-(partition, group) SUM
    * offsets instead of counts. Integer sums are associative, so the
    * distributed fold is bit-equal to the sequential one — the reason
    * this exists for longs and NOT for fp values (those keep the ordered
    * single-fold device: q234/q255). First row of each group gets 0. */
  def groupPrefixSum(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], value: Column,
      outCol: String): DataFrame = {
    require(groupCols.nonEmpty,
      "groupCols must be non-empty — for a global prefix sum use " +
        "prefixSumAndTotal")
    val (ranged, _, offsets) =
      groupRangeSkeleton(df, groupCols, sortCols, weight = Some(value))
    val w = Window.partitionBy(col("__pid") +: groupCols.map(col): _*)
      .orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .join(broadcast(offsets), offsetJoin(groupCols))
      .withColumn(outCol,
        coalesce(sum(col("__w")).over(w), lit(0L)) + col("__off"))
      .drop(Seq("__pid", "__opid", "__off", "__w") ++
        groupCols.map(c => s"__og_$c"): _*)
  }

  /** The shared range-exchange skeleton behind [[groupRowNumberAndTotal]]
    * and [[groupPrefixSum]]: range-repartition on (groupCols ++ sortCols)
    * and materialize (both downstream passes must read ONE set of range
    * boundaries), aggregate a per-(partition, group) weight — row counts
    * when `weight` is None, else the long `weight` expression landed as a
    * `__w` column on the ranged frame — and turn it into per-(partition,
    * group) prefix offsets over earlier partitions of the same group via
    * a broadcast self-join (metadata-sized, null-safe groups). Returns
    * (ranged frame with `__pid` [+ `__w`], the weight table
    * (`__pid`, groups, `__c`), offsets (`__opid`, `__og_*`, `__off`));
    * join offsets back with [[offsetJoin]].
    *
    * The two [[graft.Lineage.truncate]] materializations here run EAGERLY
    * at call time (localCheckpoint) and are never `release()`d HERE: the
    * frames this returns are lazy plans the caller executes later
    * (possibly several times), so no point in this method is safe to free
    * them. They register in Lineage's leak registry instead — a long-lived
    * session frees them BETWEEN queries via `Lineage.drainLeaked`
    * (LineageDrainSpec witnesses the flat-count loop; `Bench` drains
    * equivalently with its unpersist-all between timed queries). */
  private def groupRangeSkeleton(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], weight: Option[Column])
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val parts = rangeParts(spark)
    val rangeKey = groupCols.map(col) ++ sortCols
    val base = df.repartitionByRange(parts, rangeKey: _*)
      .withColumn("__pid", spark_partition_id())
    val ranged = graft.Lineage.truncate(
      weight.map(v => base.withColumn("__w", v.cast("long")))
        .getOrElse(base), eager = false).df
    val perRow = weight.map(_ => sum(col("__w"))).getOrElse(count(lit(1)))
    val weights = graft.Lineage.truncate( // ≤ parts + |groups| rows
      ranged.groupBy(col("__pid") +: groupCols.map(col): _*)
        .agg(perRow.as("__c")), eager = false).df
    val sameGroup = groupCols
      .map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _)
    val offsets = weights.as("a")
      .join(broadcast(weights.as("b")),
        sameGroup && col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__opid") +:
        groupCols.map(c => col(s"a.$c").as(s"__og_$c")): _*)
      .agg(coalesce(sum(col("b.__c")), lit(0L)).as("__off"))
    (ranged, weights, offsets)
  }

  /** Join condition attaching [[groupRangeSkeleton]]'s offsets back onto
    * its ranged frame — null-safe on the group columns. */
  private def offsetJoin(groupCols: Seq[String]): Column =
    (col("__pid") === col("__opid")) &&
      groupCols.map(c => col(c) <=> col(s"__og_$c")).reduce(_ && _)

  /** [[globalRowNumber]] plus the exact total row count — FREE, it is the
    * sum of the per-partition counts the offset pass already collected (a
    * caller needing rank AND n must not pay a second scan). */
  /** The VALUE at 1-based global rank `k(total)` of `value` ascending —
    * an order-statistic SELECTION for callers that need one quantile row
    * (median, exact percentile), not every row's rank: full
    * [[globalRowNumberAndTotal]] pays a per-partition sort of the whole
    * frame PLUS a full-data exchange (the checkpoint scan loses the range
    * partitioning, so Catalyst re-shuffles for the window — r19 measured
    * 28.5 MB re-exchanged and ~6 s of window sort on q318's 2.9 M
    * slopes). Here: range-materialize once, per-partition counts to the
    * driver (≤`parts` longs — the established metadata collect), locate
    * the ONE partition holding rank k, and TakeOrdered its first k_local
    * rows — no window, no second exchange. Ties are value-ties: any of
    * the tied rows yields the same `value`, so the result is
    * deterministic by value. Returns (1-row frame with column `outCol`,
    * total). k_local ≤ Int.MaxValue is required (a range partition
    * bigger than 2^31 rows should raise `parts`, not silently sort). */
  def kthSmallest(df: DataFrame, value: Column, k: Long => Long,
      outCol: String = "kth"): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parts = rangeParts(spark)
    val ranged = graft.Lineage.truncate(
      df.repartitionByRange(parts, value.asc)
        .withColumn("__pid", spark_partition_id())
        .withColumn("__v", value), eager = false).df
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    val kk = k(total)
    require(kk >= 1 && kk <= total,
      s"rank $kk outside [1, $total]")
    var acc = 0L
    val (pStar, kLocal) = counts.collectFirst {
      case (pid, n) if { val hit = kk <= acc + n; if (!hit) acc += n; hit } =>
        (pid, kk - acc)
    }.get
    require(kLocal <= Int.MaxValue,
      s"local rank $kLocal exceeds Int.MaxValue — raise shuffle partitions")
    val kth = ranged.filter(col("__pid") === pStar)
      .select(col("__v"))
      .orderBy(col("__v").asc).limit(kLocal.toInt)
      .agg(max(col("__v")).as(outCol))
    (kth, total)
  }

  def globalRowNumberAndTotal(df: DataFrame, sortCols: Seq[Column],
      rnCol: String = "rn"): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parts = rangeParts(spark)
    val ranged = graft.Lineage.truncate(
      df.repartitionByRange(parts, sortCols: _*)
        .withColumn("__pid", spark_partition_id()), eager = false).df
    // one long per non-empty partition to the driver — bounded by `parts`
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2).init)
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    val ranked = ranged.join(broadcast(offDf), Seq("__pid"))
      .withColumn(rnCol, row_number().over(w).cast("long") + col("__off"))
      .drop("__pid", "__off")
    (ranked, counts.map(_._2).sum)
  }
}
