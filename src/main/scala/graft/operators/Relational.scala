package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, TimestampNTZType}

import graft.sources.Tables

/**
 * The relational query surface — what TiFlink exposes through Flink StreamSQL
 * (`tableEnv.sqlQuery(query)`, reference: TiFlinkApp.java:270) re-expressed as
 * declarative DataFrame plans so Catalyst handles pushdown, pruning, join
 * selection and AQE does runtime re-planning.
 *
 * Numeric determinism convention (shared with the DuckDB oracles in
 * [[graft.SparkEntry.oracleSql]]): money columns are cast to DECIMAL *before*
 * aggregation (exact, order-independent arithmetic) and the final aggregate is
 * cast back to DOUBLE — both engines then produce bit-identical values, which
 * a floating sum would not (summation order differs).
 *
 * Scale notes are on each operator; dimension joins broadcast explicitly,
 * fact-fact joins shuffle on their keys and rely on AQE for skew.
 */
object Relational {

  /** Money: 2-decimal values ≤ ~1e7 → DECIMAL(14,2) is lossless. */
  private def money(c: Column): Column = c.cast(DecimalType(14, 2))
  /** Rates (discount/tax): 2-decimal values < 1 → DECIMAL(4,2). */
  private def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  private def asDouble(c: Column): Column = c.cast(DoubleType)

  // ---------------------------------------------------------------- A2
  /** Group-by aggregation with sum/count/avg/min/max. Partial (map-side)
    * aggregation is automatic; 6 output groups → no skew concern. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"), // integral doubles: exact in fp
        count(lit(1)).as("cnt"),
        asDouble(sum(money($"l_extendedprice"))).as("sum_price"),
        min($"l_quantity").as("min_qty"),
        max($"l_quantity").as("max_qty"))

  // ---------------------------------------------------------------- A1
  /** Filter + narrow projection. The plan must show PushedFilters on
    * l_shipdate/l_discount and a 4-column ReadSchema — verified in specs. */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1999-01-01").cast("timestamp") &&
        $"l_discount" > 0.05)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_discount")

  // ---------------------------------------------------------------- A3
  /** Customer enriched by nation and region: both dims are tiny at any SF
    * (25 / 5 rows) → broadcast explicitly; no shuffle of the fact side. */
  def q3DimJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        count(lit(1)).as("num_customers"),
        asDouble(sum(money($"c_acctbal"))).as("total_acctbal"))

  // ---------------------------------------------------------------- A4
  /** Fact-fact join: orders⋈lineitem shuffles both sides on orderkey (at
    * 100 TB both exceed broadcast thresholds). Revenue uses exact decimal
    * per-row arithmetic: DECIMAL(14,2) * (1 - DECIMAL(4,2)). */
  def q4JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val revenue = money($"l_extendedprice") * (lit(1).cast(DecimalType(3, 2)) - rate($"l_discount"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("cnt"),
        asDouble(sum(revenue)).as("revenue"))
  }

  // ---------------------------------------------------------------- A5
  /** The TiFlink flagship MV shape (examples/.../TiFlinkExample.java:12-18:
    * `select id, ..., (select count(*) from posts where author_id = authors.id)
    * from authors`): a correlated scalar COUNT subquery. Spark-first this is a
    * pre-aggregate + left join (count rolls up before the join → the join input
    * is one row per customer, not one row per order). */
  def q5ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
    Tables.customer(spark, dir)
      .join(counts, $"c_custkey" === $"o_custkey", "left")
      .select($"c_custkey", $"c_name",
        coalesce($"cnt", lit(0L)).as("num_orders"))
  }

  // ---------------------------------------------------------------- A6
  /** EXISTS → left-semi join (no row multiplication, early exit per key). */
  def q6SemiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir).filter($"o_totalprice" > 200000.0),
        $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")

  // ---------------------------------------------------------------- A7
  /** NOT EXISTS → left-anti join (customers with no high-value order). */
  def q7AntiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir).filter($"o_totalprice" > 300000.0),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")

  // ---------------------------------------------------------------- A8
  /** Left outer join preserving customers with no 'F'-status orders;
    * count(o_orderkey) counts only matched rows (SQL semantics). */
  def q8OuterJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir).filter($"o_orderstatus" === "F"),
        $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_mktsegment")
      .agg(
        count($"o_orderkey").as("f_orders"),
        count(lit(1)).as("total_rows"))

  // ---------------------------------------------------------------- A9
  def q9Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select($"c_mktsegment", $"c_nationkey").distinct()

  // ---------------------------------------------------------------- A10
  def q10Union(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select($"c_custkey".as("id"), lit("customer").as("src"), $"c_acctbal".as("acctbal"))
    val s = Tables.supplier(spark, dir)
      .select($"s_suppkey".as("id"), lit("supplier").as("src"), $"s_acctbal".as("acctbal"))
    c.unionAll(s)
  }

  // ---------------------------------------------------------------- A11
  def q11Having(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("cnt"), asDouble(sum(money($"o_totalprice"))).as("total_spent"))
      .filter($"cnt" > 15)

  // ---------------------------------------------------------------- A12
  /** ORDER BY + LIMIT compiles to TakeOrderedAndProject: each partition keeps
    * a k-row heap, only k rows reach the driver — scales to any input size.
    * o_orderkey tie-break keeps the result deterministic. */
  def q12TopN(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)

  // ---------------------------------------------------------------- A13
  /** Top-3 orders per priority via row_number — the classic streaming top-n
    * TiFlink maintains; partition-parallel, state bounded by k per key. */
  def q13WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"o_orderpriority", $"rn", $"o_orderkey", $"o_totalprice")
  }

  // ---------------------------------------------------------------- A14
  /** Running total + lag per customer ordered by time; decimal running sum is
    * order-exact so both engines agree bit-for-bit. */
  def q14WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .filter($"o_custkey" < 100)
      .select(
        $"o_custkey", $"o_orderkey", $"o_orderdate",
        asDouble(sum(money($"o_totalprice")).over(running)).as("running_total"),
        asDouble(lag(money($"o_totalprice"), 1).over(order)).as("prev_price"))
  }

  // ---------------------------------------------------------------- A15
  /** CASE WHEN + conditional aggregation (sum/count over filtered branches). */
  def q15CaseAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_linestatus")
      .agg(
        sum(when($"l_returnflag" === "R", $"l_quantity").otherwise(0.0)).as("returned_qty"),
        sum(when($"l_discount" > 0.05, 1L).otherwise(0L)).as("high_discount_cnt"),
        count(lit(1)).as("cnt"))

  // ---------------------------------------------------------------- A16
  /** Date/time functions: extract + trunc + date arithmetic. */
  def q16DateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(
        year($"o_orderdate").cast("long").as("o_year"),
        quarter($"o_orderdate").cast("long").as("o_quarter"))
      .agg(
        count(lit(1)).as("cnt"),
        asDouble(sum(money($"o_totalprice"))).as("total"))

  // ---------------------------------------------------------------- A17
  /** String functions: upper/substr/length/concat/LIKE. */
  def q17StringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter($"c_name".like("%1%"))
      .select(
        $"c_custkey",
        upper($"c_mktsegment").as("seg_upper"),
        substring($"c_name", 1, 8).as("name_prefix"),
        length($"c_name").cast("long").as("name_len"),
        concat($"c_mktsegment", lit("#"), $"c_name").as("tagged"))

  // ---------------------------------------------------------------- A18
  /** ROLLUP — hierarchical totals (region → nation → grand total). */
  def q18Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("cnt"))

  // ---------------------------------------------------------------- A19
  /** Exact COUNT(DISTINCT) — Catalyst expands to a two-stage aggregate. */
  def q19CountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_orderstatus")
      .agg(
        countDistinct($"o_custkey").as("uniq_custs"),
        count(lit(1)).as("cnt"))

  // ---------------------------------------------------------------- A20
  /** approx_count_distinct (HyperLogLog++) — the scale path for distinct
    * counting (fixed-size sketch vs exact's shuffle of all distinct values).
    * Sketch internals are engine-specific → rows-only check + spec. */
  def q20ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_orderstatus")
      .agg(approx_count_distinct($"o_custkey", 0.01).as("approx_uniq_custs"))

  // ---------------------------------------------------------------- A21
  /** IN (subquery) → left-semi join against the distinct key set. */
  def q21InSubquery(spark: SparkSession, dir: String): DataFrame = {
    val asian = Tables.nation(spark, dir).filter($"n_regionkey" === 2)
      .select($"n_nationkey")
    Tables.supplier(spark, dir)
      .join(broadcast(asian), $"s_nationkey" === $"n_nationkey", "left_semi")
      .select($"s_suppkey", $"s_name", $"s_nationkey")
  }

  // ---------------------------------------------------------------- A22
  /** TPC-H Q1 pricing summary (the canonical MV TiFlink would maintain):
    * multi-aggregate with exact decimal arithmetic for the fp expressions. */
  def q22PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val discPrice = money($"l_extendedprice") * (one - rate($"l_discount"))
    val charge = discPrice * (one + rate($"l_tax"))
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("2001-06-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        asDouble(sum(money($"l_extendedprice"))).as("sum_base_price"),
        asDouble(sum(discPrice)).as("sum_disc_price"),
        asDouble(sum(charge)).as("sum_charge"),
        (sum($"l_quantity") / count(lit(1))).as("avg_qty"),
        (asDouble(sum(money($"l_extendedprice"))) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
  }

  // ---------------------------------------------------------------- A23
  /** Cross join of two tiny inputs (both broadcast-sized by construction). */
  def q23CrossJoin(spark: SparkSession, dir: String): DataFrame = {
    val r1 = Tables.region(spark, dir).select($"r_name".as("r1"))
    val r2 = Tables.region(spark, dir).select($"r_name".as("r2"))
    r1.crossJoin(broadcast(r2))
  }

  // ---------------------------------------------------------------- A24
  /** Exact percentiles (interpolated). Deterministic here because the input
    * values are integral doubles — both engines interpolate identically.
    *
    * SCALE PATH: exact `percentile` materializes each group's values in its
    * aggregation buffer — a hot group at 100 TB is an OOM risk. A cluster
    * user runs [[approxPercentiles]] instead: `approx_percentile` keeps a
    * bounded KLL-style sketch per group (size ∝ accuracy, not rows), merges
    * map-side, and is asserted within rank-error ε of this exact form by
    * RelationalPlanSpec. The exact form stays as the oracle query. */
  def q24Percentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        count(lit(1)).as("cnt"))

  /** Bounded-memory percentile variant for cluster scale: same output shape
    * as [[q24Percentile]]; per-group state is a fixed-size sketch, so no
    * group can blow an aggregation buffer. `accuracy` trades sketch size
    * for rank error (1/accuracy). */
  def approxPercentiles(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        expr(s"approx_percentile(l_quantity, 0.25, $accuracy)").as("p25"),
        expr(s"approx_percentile(l_quantity, 0.5, $accuracy)").as("p50"),
        expr(s"approx_percentile(l_quantity, 0.75, $accuracy)").as("p75"),
        count(lit(1)).as("cnt"))

  // ---------------------------------------------------------------- A25
  /** first_value / last_value / ntile / percent_rank — the rest of the
    * window-function family (unique ordering key → deterministic). */
  def q25WindowMisc(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".asc, $"o_orderkey".asc)
    Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        first($"o_orderkey").over(w).as("cheapest_order"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"))
      .filter($"o_orderkey" % 97 === 0)
  }

  // ---------------------------------------------------------------- A26
  /** Correlated EXISTS with an inequality on an outer column — the shape
    * that cannot be pre-aggregated; planned as a semi join with a non-equi
    * conjunct. */
  def q26ExistsInequality(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).as("c")
      .join(Tables.orders(spark, dir).as("o"),
        $"c.c_custkey" === $"o.o_custkey" && $"o.o_totalprice" > $"c.c_acctbal" * 50,
        "left_semi")
      .select($"c_custkey", $"c_name", $"c_acctbal")

  // ---------------------------------------------------------------- A27
  /** JSON extraction from the events props column (semi-structured data is
    * first-class in both Flink SQL and Spark). */
  def q27JsonFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select($"event_id",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"k")
      .agg(count(lit(1)).as("cnt"))

  // ---------------------------------------------------------------- A28
  /** INTERSECT — distinct customers appearing in both segments. */
  def q28Intersect(spark: SparkSession, dir: String): DataFrame = {
    val highValue = Tables.orders(spark, dir).filter($"o_totalprice" > 250000.0)
      .select($"o_custkey".as("custkey"))
    val urgent = Tables.orders(spark, dir).filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey".as("custkey"))
    highValue.intersect(urgent)
  }

  // ---------------------------------------------------------------- A29
  /** EXCEPT — customers with urgent orders but no high-value ones. */
  def q29Except(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir).filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey".as("custkey"))
    val highValue = Tables.orders(spark, dir).filter($"o_totalprice" > 250000.0)
      .select($"o_custkey".as("custkey"))
    urgent.except(highValue)
  }

  // ---------------------------------------------------------------- A30
  /** Lateral explode (UNNEST): words-with-position from document text. */
  def q38Explode(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter($"doc_id" < 50)
      .select($"doc_id",
        posexplode(split($"text", " ", -1)).as(Seq("pos", "word")))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"word")

  // ---------------------------------------------------------------- A31
  /** CUBE — all grouping-set combinations over two dimensions. */
  def q39Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        asDouble(sum(money($"o_totalprice"))).as("total"))

  // ---------------------------------------------------------------- A32
  /** Null semantics: NULLIF-generated nulls through COALESCE, null-safe
    * equality, and null-aware aggregation (count skips nulls, count(*)
    * doesn't). */
  def q52NullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val withNulls = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus",
        nullif($"o_orderpriority", lit("3-MEDIUM")).as("prio_or_null"))
    withNulls
      .groupBy($"o_orderstatus")
      .agg(
        count($"prio_or_null").as("non_null_cnt"),
        count(lit(1)).as("total_cnt"),
        sum(when($"prio_or_null".isNull, 1L).otherwise(0L)).as("null_cnt"),
        countDistinct(coalesce($"prio_or_null", lit("(none)"))).as("distinct_with_default"))
  }

  // ---------------------------------------------------------------- A33
  /** TPC-H Q3 shape: 3-way join, filtered both sides, revenue top-10.
    * customer prunes orders via broadcast-able dim path; orders⋈lineitem
    * shuffles on orderkey; top-n bounded by TakeOrderedAndProject. */
  def q53Tpch3(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val revenue = money($"l_extendedprice") * (one - rate($"l_discount"))
    val cut = lit("1998-01-01").cast("timestamp")
    Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
      .join(Tables.orders(spark, dir).filter($"o_orderdate" < cut),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(spark, dir).filter($"l_shipdate" > cut),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(asDouble(sum(revenue)).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  // ---------------------------------------------------------------- A34
  /** TPC-H Q5 shape: 6-way join (region→nation→customer/supplier→orders→
    * lineitem) with the customer-and-supplier-same-nation constraint. Dims
    * broadcast; the two fact joins shuffle on their keys. */
  def q54Tpch5(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val revenue = money($"l_extendedprice") * (one - rate($"l_discount"))
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .join(Tables.supplier(spark, dir),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "ASIA")
      .groupBy($"n_name")
      .agg(asDouble(sum(revenue)).as("revenue"), count(lit(1)).as("cnt"))
  }

  // ---------------------------------------------------------------- A35
  /** Type-mapping breadth over the `part` dimension (the TypeUtils.java:50-99
    * surface): DECIMAL aggregation + DATE-truncated grouping in one query.
    * Revenue sums in exact DECIMAL(14,2); the group key is l_shipdate
    * truncated to month — date logic both engines must agree on. Outputs
    * cast to double/timestamp because the oracle compare layer flattens
    * DECIMAL/DATE columns differently per engine; the typed arithmetic is
    * inside. `part` broadcasts as the dim side of the fact join. */
  def q55PartTypes(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand",
        // date_trunc always yields tz-aware TimestampType; the source ts
        // columns are NTZ, so cast back or the parquet output carries a
        // UTC annotation the tz-naive oracle TIMESTAMP can never match.
        date_trunc("month", $"l_shipdate").cast(TimestampNTZType).as("ship_month"))
      .agg(
        asDouble(sum(money($"l_extendedprice"))).as("revenue"),
        max($"p_size").as("max_size"),
        count(lit(1)).as("n_items"))

  // ---------------------------------------------------------------- A36
  /** Ordered funnel analysis over the event stream: per user, the first
    * `view`, the first `click` STRICTLY AFTER that view, and the first
    * `purchase` strictly after that click — the sequential-pattern query
    * every event-analytics surface ships (Flink's MATCH_RECOGNIZE territory,
    * expressed here as staged conditional mins so it stays a declarative
    * aggregation Catalyst can partial-aggregate).
    *
    * Scale: three per-user min-aggregates + user-keyed joins — all
    * partial-aggregated, shuffles carry (user, ts) pairs only. One shuffle
    * partitioning (user_id) serves every stage. */
  def q82Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"ts")
    val users = e.select($"user_id").distinct()
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("first_view"))
    val c = e.join(v, Seq("user_id"))
      .filter($"event_type" === "click" && $"ts" > $"first_view")
      .groupBy($"user_id").agg(min($"ts").as("first_click"))
    val p = e.join(c, Seq("user_id"))
      .filter($"event_type" === "purchase" && $"ts" > $"first_click")
      .groupBy($"user_id").agg(min($"ts").as("first_purchase"))
    users
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select($"user_id", $"first_view", $"first_click", $"first_purchase",
        when($"first_purchase".isNotNull, 3L)
          .when($"first_click".isNotNull, 2L)
          .when($"first_view".isNotNull, 1L)
          .otherwise(0L).as("stage"))
  }

  // ---------------------------------------------------------------- A37
  /** Cohort retention: users grouped by their signup WEEK, counted as
    * active in each subsequent week they produced any event. Weeks are
    * absolute epoch-week indexes (`epoch_ms div 604_800_000`) — pure
    * integer arithmetic, so the cross-engine comparison has no date-type
    * or timezone surface at all.
    *
    * Scale: cohort assignment is one per-user min-aggregate broadcast back
    * across that user's events (user-keyed join); the retention matrix is
    * a count-distinct over (cohort, offset), which partial-aggregates;
    * output cardinality is weeks² regardless of corpus size. */
  def q83Retention(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 604800000L
    // ts is TIMESTAMP_NTZ; the cast interprets its wall clock in the
    // session zone (UTC everywhere here), matching DuckDB's epoch_ms over
    // the same naive timestamp
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_type",
        unix_millis($"ts".cast("timestamp")).as("ms"))
    val cohort = e.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ms").as("c0"))
    e.join(cohort, Seq("user_id"))
      .filter($"ms" >= $"c0") // pre-signup activity is not retention
      // `div`, not `/`: long / long is DOUBLE in Spark and a quotient that
      // lands ε under an integer can round up across a week boundary
      .select(expr(s"c0 div ${weekMs}L").as("cohort_week"),
        expr(s"(ms - c0) div ${weekMs}L").as("week_offset"),
        $"user_id")
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
  }

  // ---------------------------------------------------------------- A38
  /** Per-user rolling 1-hour aggregates over the event stream — for every
    * event, the count and value-sum of that user's events in the trailing
    * hour INCLUDING the event (a time-interval sliding frame, not a row
    * frame: gaps and bursts change the window population). The batch twin
    * of a streaming sliding-window feature; per-entity trailing aggregates
    * are the standard online-feature shape.
    *
    * Determinism/engines: the frame is ranged over EPOCH MICROSECONDS (a
    * long — both engines bound the frame with exact integer compares; an
    * INTERVAL frame over the raw ns/µs timestamps would have to agree on
    * truncation too), and the sum is the DECIMAL convention so the
    * frame-internal addition order cannot matter.
    *
    * Scale: one shuffle on user_id + per-user time sort; Spark evaluates a
    * trailing range frame with a sliding two-pointer pass, O(events) per
    * user, state bounded by the widest 1-hour burst. */
  def q88RollingEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts",
        unix_micros($"ts".cast("timestamp")).as("us"),
        money($"value").as("v"))
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-hourUs, 0)
    e.select($"event_id", $"user_id", $"ts",
        count(lit(1)).over(w).as("cnt_1h"),
        asDouble(sum($"v").over(w)).as("sum_1h"))
  }

  // ---------------------------------------------------------------- A39
  /** Gap-based sessionization that ASSIGNS a session id to every event —
    * the per-event complement of q36's session-window aggregation: a new
    * session starts when a user's inter-event gap exceeds `gap` (30 min).
    * `session_seq` is the user's 1-based session counter (lag-compare →
    * running sum of session starts), so (user_id, session_seq) is a stable
    * session key downstream joins can use.
    *
    * Determinism: gaps compare in epoch micros (exact integers); ties in
    * `ts` order within a user cannot change the flag (equal timestamps
    * have gap 0). Scale: one shuffle on user_id + per-user sort; both
    * window functions share the single sort. */
  def q89Sessionize(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val e = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts",
        unix_micros($"ts".cast("timestamp")).as("us"))
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    e.withColumn("__new",
        when(lag($"us", 1).over(byUser).isNull
          || $"us" - lag($"us", 1).over(byUser) > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum($"__new")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"event_id", $"user_id", $"ts", $"session_seq")
  }

  // ---------------------------------------------------------------- A40
  /** Interval-overlap self-join — pairs of a user's events whose
    * ±`window`-minute neighborhoods overlap (|Δts| ≤ window), via the
    * BANDED range-join pattern Spark lacks natively: quantize time into
    * window-width buckets, explode ONE side to its bucket ±1, equi-join on
    * (user, bucket), then apply the exact band predicate. Each qualifying
    * pair is produced exactly once (the probe's own bucket hits one of the
    * build side's three), and the equi-join keeps the work hash-partitioned
    * instead of a per-user cross product — the difference between O(n²) and
    * O(n · bucket-occupancy) at 100 TB.
    *
    * Exactness: bucket ids and the band predicate are integer arithmetic
    * on epoch micros. */
  def q90IntervalJoin(spark: SparkSession, dir: String,
      windowMinutes: Int = 5): DataFrame = {
    val winUs = windowMinutes * 60L * 1000000L
    val e = Tables.events(spark, dir)
      .select($"event_id", $"user_id",
        unix_micros($"ts".cast("timestamp")).as("us"))
      .withColumn("bk", expr(s"us div ${winUs}L"))
    val probe = e.withColumn("bk", explode(array($"bk" - 1, $"bk", $"bk" + 1)))
    e.as("a").join(probe.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.bk" === $"b.bk" &&
          $"a.event_id" < $"b.event_id" &&
          abs($"a.us" - $"b.us") <= winUs)
      .select($"a.user_id".as("user_id"),
        $"a.event_id".as("event_a"), $"b.event_id".as("event_b"),
        abs($"a.us" - $"b.us").as("gap_us"))
  }

  // ---------------------------------------------------------------- A41
  /** Ordered group string aggregation (LISTAGG/string_agg) — names per
    * nation, comma-joined in sorted order. Expressed as
    * `concat_ws(array_sort(collect_list))` so the concatenation order is
    * deterministic regardless of partitioning (a bare listagg reflects
    * arrival order — nondeterministic under shuffle).
    *
    * Scale: collect_list buffers one group's members — fine for
    * group-sized payloads (names per nation); corpus-sized groups should
    * aggregate ids and materialize strings downstream. */
  def q92GroupConcat(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy($"c_nationkey")
      .agg(
        concat_ws(",", array_sort(collect_list($"c_name"))).as("names"),
        count(lit(1)).as("cnt"))

  // ---------------------------------------------------------------- A42
  /** One-pass moment statistics from DISTRIBUTIVE integer sums — mean,
    * population variance/stddev, and skewness of `l_quantity` per return
    * flag. Spark's stddev/skewness builtins merge partial fp moments in
    * partition order (nondeterministic bit patterns under shuffle, and
    * never comparable cross-engine); here the aggregation state is three
    * exact integer sums (Σq, Σq², Σq³ — quantities are small integers, no
    * overflow at any SF) and every downstream fp op is the SAME IEEE
    * expression on both engines, so results are bit-identical AND the
    * aggregate is embarrassingly partial-aggregable — the only moment
    * formulation that scales to 100 TB without a second pass. */
  def q93MomentStats(spark: SparkSession, dir: String): DataFrame = {
    val q = $"l_quantity".cast("long")
    val agg = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum(q).as("s1"),
        sum(q * q).as("s2"), sum(q * q * q).as("s3"))
    val nd = $"n".cast("double")
    val mean = $"s1".cast("double") / nd
    val m2 = $"s2".cast("double") / nd - mean * mean
    val std = sqrt(m2)
    val skew = ($"s3".cast("double") / nd
      - lit(3.0) * mean * ($"s2".cast("double") / nd)
      + lit(2.0) * mean * mean * mean) / (std * std * std)
    agg.select($"l_returnflag", $"n", $"s1", $"s2", $"s3",
      mean.as("mean_qty"), m2.as("var_qty"), std.as("std_qty"),
      skew.as("skew_qty"))
  }

  // ---------------------------------------------------------------- A43
  /** FULL OUTER JOIN — both-sides-preserved merge of two independently
    * aggregated frames (customer vs supplier account-balance histograms).
    * The relational surface's last join flavor after inner/left/semi/anti/
    * cross: unmatched buckets surface with a NULL count on the absent side.
    *
    * Scale: both inputs are already aggregated to bucket cardinality
    * (≈ balance-range/100 rows regardless of SF), so the outer join itself
    * is a dim×dim hash join — the heavy lifting stays in the two partial
    * aggregations upstream. The bucket is floor(balance/100.0): one IEEE
    * double divide + floor, deterministic cross-engine. */
  def q95FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (c: Column) => floor(c / lit(100.0)).cast("long")
    val cust = Tables.customer(spark, dir)
      .groupBy(bucket($"c_acctbal").as("bal_bucket"))
      .agg(count(lit(1)).as("n_cust"))
    val supp = Tables.supplier(spark, dir)
      .groupBy(bucket($"s_acctbal").as("bal_bucket"))
      .agg(count(lit(1)).as("n_supp"))
    cust.join(supp, Seq("bal_bucket"), "full_outer")
  }

  // ---------------------------------------------------------------- A44
  /** PIVOT — long-to-wide rotation: per-user event counts spread over the
    * (closed) event-type vocabulary. The pivot values are declared
    * explicitly — without them Spark must first run a distinct job to
    * DISCOVER the keys (a full extra pass over the fact table at 100 TB).
    *
    * Scale: with declared values the plan is two chained aggregations
    * (count per (user,type), then PivotFirst per user), BOTH partial —
    * every exchange carries pre-aggregated rows, never raw events; the
    * second shuffle moves ≤ |users|·|vocabulary| rows. Asserted in the
    * spec. (A hand-written conditional aggregation — q15's shape — saves
    * the second exchange when the vocabulary is known at authoring time;
    * this operator is the dynamic-width API surface.) */
  def q96Pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(spark, dir)
      .groupBy($"user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    // absent (user, type) cells are NULL counts — report the honest 0
    types.foldLeft(pivoted) { (df, t) =>
      df.withColumn(s"n_$t", coalesce(col(t), lit(0L))).drop(t)
    }
  }

  // ---------------------------------------------------------------- A45
  /** UNPIVOT — wide-to-long rotation (the inverse of A44): the per-flag
    * money aggregates melt into (measure, amount) rows. Spark's `unpivot`
    * is a zero-shuffle Expand over the already-aggregated frame; the
    * DECIMAL sums are cast to DOUBLE before melting so the long column has
    * one type and both engines agree bit-exactly.
    *
    * Scale: Expand multiplies rows by the measure count AFTER aggregation
    * — |flags|×3 rows total, never a row-multiplier on the fact table. */
  def q97Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        asDouble(sum(money($"l_extendedprice"))).as("sum_price"),
        asDouble(sum(rate($"l_discount"))).as("sum_disc"),
        asDouble(sum(rate($"l_tax"))).as("sum_tax"))
      .unpivot(Array($"l_returnflag"),
        Array($"sum_price", $"sum_disc", $"sum_tax"), "measure", "amount")

  // ---------------------------------------------------------------- A46
  /** Per-group simple linear regression + Pearson correlation of discount
    * (y) on quantity (x) — volume-discount analysis — from DISTRIBUTIVE
    * EXACT SUMS, the q93 discipline applied to two variables: the
    * aggregation state is (n, Σx, Σy, Σxy, Σx², Σy²) with x a small
    * integer (BIGINT sums exact) and y DECIMAL(4,2) (decimal sums exact,
    * any order), so partials combine associatively at 100 TB;
    * slope/intercept/r are then the same IEEE expression on both engines
    * over identical inputs — bit-identical, unlike the builtin
    * regr_slope/corr fp accumulators whose result depends on partition
    * order.
    *
    * y is deliberately the BOUNDED-magnitude money column: every exact sum
    * must convert to DOUBLE losslessly on both engines, which holds only
    * while the decimal's underlying integer stays < 2^53 (≈9e15 — DuckDB's
    * decimal→double goes through int128 division and double-rounds above
    * that; Spark's BigDecimal cast is correctly rounded, so the engines
    * can drift an ulp apart). Σ(discount²) at scale 4 reaches 2^53 only
    * past ~1e12 rows; Σ(price²) would cross it at thousands of rows. */
  def q98Regression(spark: SparkSession, dir: String): DataFrame = {
    val x = $"l_quantity".cast("long")
    val y = rate($"l_discount")
    val agg = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val nd = $"n".cast("double")
    val sxd = $"sx".cast("double"); val syd = $"sy".cast("double")
    val sxyd = $"sxy".cast("double"); val sxxd = $"sxx".cast("double")
    val syyd = $"syy".cast("double")
    val cov = nd * sxyd - sxd * syd
    val varx = nd * sxxd - sxd * sxd
    val vary = nd * syyd - syd * syd
    // Degenerate-group guard: Spark's non-ANSI Divide returns NULL on a
    // zero divisor even for doubles, DuckDB's IEEE division yields inf/NaN.
    // A group with constant x (or constant y, for pearson) would diverge
    // cross-engine; both sides carry the same explicit CASE so both emit
    // NULL. Not refutable by the optimizer (data-dependent), so no plan
    // change — mirrors q104GraphDegree's degree>=2 guard.
    val slope = when(varx =!= 0.0, cov / varx)
    agg.select($"l_returnflag", $"n",
      slope.as("slope"),
      ((syd - slope * sxd) / nd).as("intercept"),
      when(varx =!= 0.0 && vary =!= 0.0,
        cov / (sqrt(varx) * sqrt(vary))).as("pearson_r"))
  }

  // ---------------------------------------------------------------- A47
  /** Null-aware NOT IN — the anti-join flavor A7's NOT EXISTS cannot
    * express: SQL's three-valued NOT IN must return NO rows if the
    * subquery list contains a NULL. The inner CASE is statically nullable
    * (never null on this data, but the type system can't prove it), so
    * Spark plans a NullAwareAntiJoin — asserted in the spec — instead of a
    * plain left-anti.
    *
    * Scale: Spark executes null-aware anti as a broadcast of the filtered
    * inner side; the inner is pre-aggregated here (DISTINCT keys of
    * high-value orders), keeping the broadcast ≪ the orders table. */
  def q99NotIn(spark: SparkSession, dir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    val cust = s"graft_q99_cust_$tag"; val ord = s"graft_q99_ord_$tag"
    Tables.customer(spark, dir).createOrReplaceTempView(cust)
    Tables.orders(spark, dir).createOrReplaceTempView(ord)
    // the CASE branch never fires on this data (no 'X' status), but unlike
    // a `< 0` guard the optimizer cannot refute it from the pushed filter,
    // so the inner stays statically nullable and the null-aware plan is kept
    try spark.sql(
      s"""SELECT c_custkey, c_name, c_mktsegment
         |FROM $cust
         |WHERE c_custkey NOT IN (
         |  SELECT DISTINCT CASE WHEN o_orderstatus = 'X' THEN NULL ELSE o_custkey END
         |  FROM $ord WHERE o_totalprice > 300000)""".stripMargin)
    finally {
      spark.catalog.dropTempView(cust); spark.catalog.dropTempView(ord)
    }
  }

  // ---------------------------------------------------------------- A48
  /** Exact per-group MODE with deterministic tie-breaking (highest count,
    * then lexicographically smallest value) — the categorical summary
    * builtin `mode()` leaves tie order engine-defined, so both sides spell
    * the argmax out: count per (user, type), then one shared window pass
    * ranks and counts the distinct types.
    *
    * Scale: the window runs over the AGGREGATED (user, type) frame —
    * ≤ |users|·|vocabulary| rows — so the per-partition sort is over a
    * handful of rows per user, not the event stream. One shuffle total:
    * groupBy and window share the user_id hash partitioning. */
  def q100Mode(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("cnt"))
    val byUser = Window.partitionBy($"user_id")
    val ranked = Window.partitionBy($"user_id")
      .orderBy($"cnt".desc, $"event_type")
    counts
      .withColumn("__rn", row_number().over(ranked))
      .withColumn("n_types", count(lit(1)).over(byUser))
      .filter($"__rn" === 1)
      .select($"user_id", $"event_type".as("mode_type"),
        $"cnt".as("mode_cnt"), $"n_types")
  }

  // ---------------------------------------------------------------- A49
  /** Global ranking + rank-based NTILE (documents ranked corpus-wide by
    * length): `rn` is the exact 1-based position under the total order
    * (n_chars, doc_id) and `decile` the rank-arithmetic tile
    * ⌊(rn−1)·10/n⌋ — pure integers, so both engines agree bit-exactly and
    * boundary rows land deterministically (threshold-value bucketing would
    * re-open the fp-interpolation fragility flagged on q77).
    *
    * Scale: [[Rank.globalRowNumber]] — a range exchange + per-partition
    * sorts + count-offset broadcast — NOT the empty-partition window that
    * funnels 100 TB through one reducer. The row count rides the same
    * aggregate pass. */
  def q105GlobalRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select($"doc_id", $"n_chars")
    val (ranked, total) =
      Rank.globalRowNumberAndTotal(docs, Seq($"n_chars", $"doc_id"))
    ranked
      .withColumn("decile", expr(s"((rn - 1) * 10) div ${total}L"))
      .select($"doc_id", $"n_chars", $"rn", $"decile")
  }

  // ---------------------------------------------------------------- A50
  /** Nested/array surface: per-user event-time arrays transformed with
    * codegen'd higher-order functions — collect_list → sort_array →
    * slice/zip_with (pairwise gaps) → array_max. The same per-key
    * list-processing Flink users reach for with collect()+UDF, kept inside
    * Catalyst (no UDF, no serialization wall). All values are epoch-µs
    * integers, so the oracle (which states the same semantics with a lag
    * window) matches exactly.
    *
    * Scale: one groupBy shuffle; the array lives only inside its group's
    * aggregation buffer — per-user cardinality bounded (≤ a user's events),
    * never corpus-sized. A group too big to buffer is exactly the case
    * where the window formulation (q89's shape) substitutes. */
  def q107ArrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    val arr = $"arr"; val n = size(arr)
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(sort_array(collect_list(
        unix_micros($"ts".cast("timestamp")))).as("arr"))
      .select($"user_id",
        n.cast("long").as("n_events"),
        (element_at(arr, -1) - element_at(arr, 1)).as("span_us"),
        when(n >= 2,
          array_max(zip_with(
            slice(arr, lit(2), n - 1), slice(arr, lit(1), n - 1),
            (a, b) => a - b)))
          .otherwise(lit(0L)).as("max_gap_us"))
  }

  // ---------------------------------------------------------------- A51
  /** LATERAL correlated subquery join — per-nation top-2 customers by
    * balance, written as the SQL-standard `JOIN LATERAL` (the "for each
    * row, run this parameterized subquery" surface; Flink exposes the same
    * via LATERAL TABLE). Catalyst decorrelates it into a ranked window
    * join rather than executing per-row — the plan a hand-written
    * WindowGroupLimit top-n would produce, from the declarative form.
    *
    * Scale: post-decorrelation there is no per-outer-row re-execution;
    * the inner ranks once per nation partition. */
  def q108Lateral(spark: SparkSession, dir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    val nat = s"graft_q108_nat_$tag"; val cust = s"graft_q108_cust_$tag"
    Tables.nation(spark, dir).createOrReplaceTempView(nat)
    Tables.customer(spark, dir).createOrReplaceTempView(cust)
    try spark.sql(
      s"""SELECT n_name, t.c_name AS c_name, t.c_acctbal AS c_acctbal
         |FROM $nat JOIN LATERAL (
         |  SELECT c_name, c_acctbal FROM $cust
         |  WHERE c_nationkey = n_nationkey
         |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t""".stripMargin)
    finally {
      spark.catalog.dropTempView(nat); spark.catalog.dropTempView(cust)
    }
  }

  // ---------------------------------------------------------------- B39
  /** Z-order locality keys over (partkey, suppkey) — the layout-key
    * computation behind multi-dimensional clustering
    * ([[graft.sources.Storage.zorderKey]] has the layout recipe and the
    * 100 TB rationale). Emitted per distinct key pair so the oracle checks
    * the bit-interleave arithmetic itself, exactly. */
  def q112Zorder(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        $"l_partkey".cast("long").bitwiseAND(lit(65535L)).as("p16"),
        $"l_suppkey".cast("long").bitwiseAND(lit(65535L)).as("s16"),
        graft.sources.Storage.zorderKey($"l_partkey", $"l_suppkey").as("zval"))
      .distinct()

  // ---------------------------------------------------------------- A52
  /** MAP-typed column surface — build a per-user event_type→count map IN
    * THE PLAN (map_from_entries over the aggregated entries; keys unique
    * by construction) and consume it with element_at/size. The map-typed
    * intermediate is the point: Flink SQL's MAP type / Spark's MapType
    * both ship this shape, and the oracle checks the lookups' results
    * exactly (the map itself never crosses engines — parquet MAP vs
    * DuckDB MAP representations are not comparable byte-wise).
    *
    * Scale: identical shuffle profile to q96's pivot — the map is built
    * per user from that user's aggregated entries only. */
  def q113MapFuncs(spark: SparkSession, dir: String): DataFrame = {
    val m = $"m"
    Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"user_id")
      .agg(map_from_entries(collect_list(struct($"event_type", $"cnt"))).as("m"))
      .select($"user_id",
        size(m).cast("long").as("n_types"),
        coalesce(element_at(m, "click"), lit(0L)).as("n_click"),
        coalesce(element_at(m, "purchase"), lit(0L)).as("n_purchase"))
  }

  // ---------------------------------------------------------------- A53
  /** Time-series gap filling / resampling — per user, a dense hourly spine
    * from first to last event with the last observed value FORWARD-FILLED
    * into empty hours (last_value IGNORE NULLS): the resample-and-ffill
    * step every downstream feature pipeline runs on irregular event
    * streams, as one declarative plan (sequence+explode spine, left join,
    * one ordered window). Values pass through untouched — no arithmetic,
    * exact cross-engine; hour indexes are integer epoch-µs divisions.
    *
    * Scale: everything partitions by user_id and the spine is generated,
    * not shuffled (explode is map-side); the fill window rides the same
    * user partitioning. Spine size = active-hours per user, bounded by the
    * observation horizon, not the event count. */
  def q114GapFill(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val e = Tables.events(spark, dir).select($"user_id",
      unix_micros($"ts".cast("timestamp")).as("us"), $"value", $"event_id")
      .withColumn("h", expr(s"us div ${hourUs}L"))
    val wLast = Window.partitionBy($"user_id", $"h")
      .orderBy($"us".desc, $"event_id".desc)
    val obs = e.withColumn("__rn", row_number().over(wLast))
      .filter($"__rn" === 1).select($"user_id", $"h", $"value".as("v"))
    val spine = e.groupBy($"user_id").agg(min($"h").as("lo"), max($"h").as("hi"))
      .select($"user_id", explode(sequence($"lo", $"hi")).as("h"))
    val wFill = Window.partitionBy($"user_id").orderBy($"h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(obs, Seq("user_id", "h"), "left")
      .select($"user_id", $"h".as("hour_idx"),
        last($"v", ignoreNulls = true).over(wFill).as("value_ff"),
        $"v".isNotNull.as("is_observed"))
  }

  // ---------------------------------------------------------------- A54
  /** Running COUNT(DISTINCT) over an ordered window — a surface Spark's
    * windowed aggregation does not offer natively (DISTINCT window aggs
    * are rejected by the planner); the engine-idiomatic equivalent is
    * `size(collect_set(...))` over the same frame, which this operator
    * ships and the DuckDB oracle (which DOES support DISTINCT windows)
    * checks exactly: per user, how many distinct event types have been
    * seen up to each event.
    *
    * Scale: the set state is bounded by the TYPE vocabulary (5 here),
    * not the frame length — collect_set over an unbounded-preceding frame
    * is safe exactly when the distinct domain is small, which is the same
    * condition under which the metric itself is meaningful. */
  def q116WindowDistinct(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id")
      .orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("us"))
      .withColumn("distinct_types_so_far",
        size(collect_set($"event_type").over(w)).cast("long"))
      .select($"user_id", $"event_id", $"distinct_types_so_far")
  }

  // ---------------------------------------------------------------- A55
  /** Ratio-to-report — each nation's share of its REGION's revenue and of
    * the GLOBAL total, as unpartitioned/partitioned window sums over the
    * pre-aggregated frame. Shares are single divisions of exact DECIMAL
    * sums cast to double (both sums' underlying integers stay far below
    * 2^53 at oracle scale — see q98's cast rule), so both engines agree
    * bit-exactly. Unlike q98 no zero-divisor guard is needed: the divisor
    * is a sum of strictly positive o_totalprice over a frame that always
    * contains the current row, so it is structurally > 0.
    *
    * Scale: the windows run over the AGGREGATED |nations|-row frame — the
    * empty-partition global window is fine at dimension cardinality; the
    * fact-table work is one partial-aggregated groupBy. */
  def q117RatioReport(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(sum(money($"o_totalprice")).as("rev"))
    val byRegion = Window.partitionBy($"r_name")
    val global = Window.partitionBy()
    rev.select($"r_name", $"n_name", asDouble($"rev").as("revenue"),
        (asDouble($"rev") / asDouble(sum($"rev").over(byRegion))).as("region_share"),
        (asDouble($"rev") / asDouble(sum($"rev").over(global))).as("global_share"))
  }

  // ---------------------------------------------------------------- A56
  /** Fuzzy self-join / entity resolution — all pairs of customers whose
    * names are within Levenshtein distance 1, found WITHOUT the quadratic
    * comparison a naive similarity join implies. Blocking is the
    * deletion-neighborhood scheme (the FastSS family): each name emits
    * itself plus its |name| single-character-deletion variants; two
    * strings within edit distance 1 ALWAYS share a variant (equal → the
    * full string; substitution at i → both deletions at i; insert/delete →
    * one string IS the other's deletion variant), so the variant equi-join
    * has zero false negatives, and the exact `levenshtein` filter removes
    * the false positives (two different substitutions can collide on a
    * deletion). `distinct()` collapses pairs that matched through several
    * shared variants before the verify filter prices them.
    *
    * Scale: per-row fan-out is |name|+1 — linear, map-side, codegen'd;
    * the candidate join keys on `xxhash64(variant)` — 8 bytes/row through
    * the widest shuffle instead of the raw ~|name|-char string (q40's 16
    * B/row rule; equal variants always hash equal, so zero false
    * negatives, and a 64-bit collision's false positive is priced by the
    * exact verify like any deletion-neighborhood collision); per-variant
    * group size is bounded by the alphabet at each deletion slot, not the
    * table size; the verify filter is codegen'd `levenshtein` on
    * candidates only. Higher thresholds compose the same shape with q43's
    * gram machinery (deletion neighborhoods grow combinatorially past
    * distance 2). */
  def q120FuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select($"c_custkey", $"c_name")
    // array_distinct: deleting any char of a repeated run yields the SAME
    // variant (e.g. the zero-run in Customer#000000123), and duplicate
    // variants within one name would multiply the join fan-out
    // quadratically per colliding pair (measured 36× on this name shape)
    val variants = c.select($"c_custkey", explode(array_distinct(expr(
      "transform(sequence(0, length(c_name)), i -> if(i = 0, c_name, " +
        "concat(substring(c_name, 1, i - 1), " +
        "substring(c_name, i + 1, length(c_name)))))"))).as("v0"))
      .select($"c_custkey", xxhash64($"v0").as("v"))
      // pinned at session width on the join key (q180's device): the
      // one-split customer scan otherwise runs the candidate self-join +
      // levenshtein verify at scan/AQE-coalesced parallelism
      .repartition(graft.GraftSession.shufflePartitions(spark), $"v")
    // candidates carry only the two keys; names re-attach after the
    // distinct so the pair shuffle is 16 B/row, not strings (q40's rule)
    val cand = variants.as("a")
      .join(variants.as("b"),
        $"a.v" === $"b.v" && $"a.c_custkey" < $"b.c_custkey")
      .select($"a.c_custkey".as("key_a"), $"b.c_custkey".as("key_b"))
      .distinct()
    cand
      .join(c.select($"c_custkey".as("key_a"), $"c_name".as("name_a")), Seq("key_a"))
      .join(c.select($"c_custkey".as("key_b"), $"c_name".as("name_b")), Seq("key_b"))
      .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
      .filter($"dist" <= 1)
      .select($"key_a", $"key_b", $"name_a", $"name_b", $"dist")
  }

  // ---------------------------------------------------------------- A57
  /** Skyline / Pareto frontier — parts no other part dominates on
    * (price ↓, size ↑): the multi-objective selection shape a data-curation
    * stack runs when trading off cost against quality (no row is kept if
    * another is at least as good on both axes and strictly better on one).
    *
    * Distributed shape: the classic sort-scan skyline is a running max
    * over the price order — an unpartitioned window, i.e. ONE task at any
    * scale. Here: distinct (price, size) pairs first (one partial-agged
    * shuffle; duplicates of a frontier point are all frontier), then
    * [[Rank.prefixMax]] supplies max(size) over all STRICTLY-PRECEDING
    * pairs in (price asc, size desc) order via range partitions + a
    * metadata-sized carry-in — among distinct pairs a same-price
    * predecessor has strictly larger size, so `prefix ≥ size` is exactly
    * dominance; survivors semi-join back to the base rows by value. */
  def q123Skyline(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select($"p_partkey", $"p_retailprice", $"p_size")
    val pairs = p.groupBy($"p_retailprice", $"p_size").agg(count(lit(1)).as("__n"))
    val scanned = Rank.prefixMax(pairs,
      Seq($"p_retailprice".asc, $"p_size".desc), $"p_size", "__m")
    val frontier = scanned
      .filter($"__m".isNull || $"__m" < $"p_size")
      .select($"p_retailprice", $"p_size")
    p.join(frontier, Seq("p_retailprice", "p_size"), "left_semi")
      .select($"p_partkey", $"p_retailprice", $"p_size")
  }

  // ---------------------------------------------------------------- A58
  /** Per-user event-type transition matrix (first-order Markov counts) —
    * the clickstream/path-analysis staple: for each user's time-ordered
    * event sequence, count (from_type → to_type) steps and the exact
    * conditional probability P(to | from).
    *
    * Scale: `lead` runs in per-user windows (hash-partitioned, parallel);
    * the transition groupBy is bounded by |event_types|² — dimension-sized
    * (q117's rule), as is the per-from total window. The probability is
    * ONE IEEE division of two exact integer counts (q98's cast rule). */
  def q124Transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wf = Window.partitionBy($"from_type")
    Tables.events(spark, dir)
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("cnt"))
      .select($"from_type", $"to_type", $"cnt",
        ($"cnt".cast("double") / sum($"cnt").over(wf).cast("double")).as("prob"))
  }

  // ---------------------------------------------------------------- A59
  /** Equi-width histogram of lineitem quantity per return flag — the
    * profiling pass every ingest pipeline runs. Bins are integer-exact:
    * quantities are whole numbers 1..50, bin = floor((q-1)/5) (the
    * boundary quotients are exactly representable, and both engines
    * evaluate the identical IEEE expression anyway).
    *
    * Scale: map-only bin computation inside the scan's codegen stage, one
    * partial-aggregated shuffle over ≤ |flags|·10 groups. */
  def q125Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select($"l_returnflag",
        floor(($"l_quantity" - 1d) / 5d).cast("long").as("bin"),
        $"l_quantity")
      .groupBy($"l_returnflag", $"bin")
      .agg(count(lit(1)).as("cnt"),
        min($"l_quantity").as("q_min"), max($"l_quantity").as("q_max"))
      .select($"l_returnflag", $"bin",
        ($"bin" * 5 + 1).as("bin_lo"), ($"bin" * 5 + 5).as("bin_hi"),
        $"cnt", $"q_min", $"q_max")

  // ---------------------------------------------------------------- A60
  /** Global NTILE decile report over part retail price — the
    * quantile-bucket profiling pass (price deciles with counts and
    * boundaries). `ntile(10) OVER (ORDER BY ...)` is an unpartitioned
    * window — ONE task at any scale; [[Rank.ntile]] computes the identical
    * SQL bucketing arithmetically from the range-partitioned global row
    * number (exact integer math on (rn, N), metadata-sized offsets only).
    * Order includes p_partkey: a TOTAL order, so bucket assignment is
    * engine-independent. Decile aggregation output is 10 rows. */
  def q127Ntile(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select($"p_partkey", $"p_retailprice")
    Rank.ntile(p, Seq($"p_retailprice".asc, $"p_partkey".asc), 10, "decile")
      .withColumn("decile", $"decile".cast("long")) // DuckDB NTILE is BIGINT
      .groupBy($"decile")
      .agg(count(lit(1)).as("cnt"),
        min($"p_retailprice").as("lo"), max($"p_retailprice").as("hi"))
  }

  // ---------------------------------------------------------------- A61
  /** Exact empirical CDF of part retail price — cume_dist + percent_rank
    * per distinct value, the quantile-normalization table a curation
    * pipeline uses to turn raw scores into percentiles.
    *
    * Distributed shape: distinct-value counts (one partial-agged shuffle,
    * |distinct| rows), then [[Rank.prefixSumAndTotal]] supplies the
    * inclusive running count over the value order via range partitions +
    * metadata-sized carried offsets — never `sum() OVER (ORDER BY)`'s
    * single task. cume_dist = cum/N and percent_rank = (cum-cnt)/(N-1)
    * (rank over the BASE rows = count of strictly-smaller values + 1, tie
    * rows share it) are single IEEE divisions of exact integer sums. */
  def q128Cdf(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.part(spark, dir)
      .groupBy($"p_retailprice").agg(count(lit(1)).as("cnt"))
    val (ps, n) = Rank.prefixSumAndTotal(d, Seq($"p_retailprice".asc),
      $"cnt", "cum")
    ps.select($"p_retailprice", $"cnt",
        ($"cum".cast("double") / lit(n.toDouble)).as("cume_dist"),
        (($"cum" - $"cnt").cast("double") / lit((n - 1).toDouble))
          .as("percent_rank"))
  }

  // ---------------------------------------------------------------- A62
  /** Rolling z-score anomaly detection — flag events whose value deviates
    * more than `zThresh` standard deviations from the user's own trailing
    * baseline (the 20 events BEFORE this one — the current row is excluded
    * so an outlier cannot dilute the baseline it is judged against). The
    * monitoring primitive behind data-drift and fraud alerts.
    *
    * Determinism (the reason mean/stddev are NOT `avg`/`stddev_samp` over
    * doubles): a double window sum is evaluated in frame order by Spark
    * but DuckDB's sliding-window aggregates use segment trees — different
    * association, different last bits, hash mismatch. Instead the frame
    * sums Σv and Σv² run over DECIMAL(14,2) (exact, order-independent;
    * `value` is 2-decimal by contract) and mean/variance/z are single
    * IEEE expressions of those exact integers — bit-identical in both
    * engines. `greatest(·,0)` guards the catastrophic-cancellation case
    * (all-equal frame → tiny negative variance → NaN sqrt).
    *
    * Scale: one shuffle on user_id; both frame sums share the single
    * per-user sort; output is only the flagged rows. */
  def q129ZscoreAnomaly(spark: SparkSession, dir: String,
      lookback: Int = 20, minPrior: Int = 10,
      zThresh: Double = 2.5): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"event_id", $"user_id", unix_micros($"ts".cast("timestamp")).as("us"),
        $"ts", $"value", money($"value").as("v"))
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(-lookback, -1)
    e.select($"event_id", $"user_id", $"ts", $"value",
        count(lit(1)).over(w).as("n"),
        asDouble(sum($"v").over(w)).as("s1"),
        asDouble(sum($"v" * $"v").over(w)).as("s2"))
      .filter($"n" >= minPrior)
      .withColumn("mu", $"s1" / $"n".cast("double"))
      .withColumn("sd", sqrt(greatest(
        ($"s2" - $"s1" * $"s1" / $"n".cast("double"))
          / ($"n".cast("double") - 1d), lit(0d))))
      .filter($"sd" > 0d)
      .withColumn("z", ($"value" - $"mu") / $"sd")
      .filter(abs($"z") > zThresh)
      .select($"event_id", $"user_id", $"ts", $"value", $"mu", $"sd", $"z")
  }

  // ---------------------------------------------------------------- A63
  /** Linearly-weighted moving average (WMA-10) per user — the trend
    * smoother that weights the newest of the last 10 values 10× the
    * oldest. The textbook formulation multiplies each frame row by a
    * weight that depends on BOTH the frame row and the current row
    * (w = 10 − (t−i)) — not directly a window aggregate. Decomposed:
    * Σ vᵢ·(10−t+i) = (10−t)·Σvᵢ + Σ(vᵢ·i), two ORDINARY frame sums over
    * per-row constants (i = the user's row number, computed once before
    * windowing), combined per row in three IEEE ops over the exact sums;
    * the weight total for a full frame is the constant 55. Emitted only
    * where the frame is full (rn ≥ 10), so every output is a true WMA-10.
    *
    * Scale: one shuffle on user_id; rn and both frame sums share one
    * per-user sort. All sums are DECIMAL-exact (q129's rule); the single
    * division happens in double at the end. */
  def q130WeightedMa(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"event_id", $"user_id", unix_micros($"ts".cast("timestamp")).as("us"),
        $"ts", $"value", money($"value").as("v"))
    val order = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val frame = order.rowsBetween(-9, 0)
    e.withColumn("rn", row_number().over(order).cast("long"))
      .select($"event_id", $"user_id", $"ts", $"value", $"rn",
        sum($"v").over(frame).as("s0"),
        sum($"v" * $"rn").over(frame).as("s1"))
      .filter($"rn" >= 10)
      // combine in DOUBLE: the frame sums are decimal-exact, and a
      // BIGINT·DECIMAL(38,2) product would overflow DuckDB's width cap;
      // double casts of identical exact decimals round identically, and
      // the remaining three IEEE ops are written identically both sides
      .withColumn("wma",
        ((lit(10L) - $"rn").cast("double") * asDouble($"s0")
          + asDouble($"s1")) / 55d)
      .select($"event_id", $"user_id", $"ts", $"value", $"wma")
  }

  // ---------------------------------------------------------------- A64
  /** Top user-journey paths — sessionize (q89's 30-min gap), render each
    * session's first 8 event types as a `a>b>c` path string, and rank the
    * 20 most frequent paths. The product-analytics "common flows" report.
    *
    * Determinism: the path string is built from `sort_array` over
    * (within-session index, type) structs — the index is unique in its
    * session, so concatenation order is a total order, not arrival order
    * (q92's listagg rule). Scale: the session id and within-session index
    * are two key-parallel window passes (user_id, then (user_id, session));
    * the truncation to 8 events bounds every collected list; the path
    * groupBy is a partial-agged shuffle; top-20 is TakeOrdered + a
    * 20-row rank window (q119's pattern — no global sort, no
    * single-task window over the full path table). */
  def q131TopPaths(spark: SparkSession, dir: String,
      gapMinutes: Int = 30, maxLen: Int = 8, k: Int = 20): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val sessions = Tables.events(spark, dir)
      .select($"event_id", $"user_id", unix_micros($"ts".cast("timestamp")).as("us"),
        $"event_type")
      .withColumn("__new",
        when(lag($"us", 1).over(byUser).isNull
          || $"us" - lag($"us", 1).over(byUser) > gapUs, 1L).otherwise(0L))
      .withColumn("sess", sum($"__new")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("k", row_number().over(
        Window.partitionBy($"user_id", $"sess").orderBy($"us", $"event_id")))
      .filter($"k" <= maxLen)
    val paths = sessions
      .groupBy($"user_id", $"sess")
      .agg(concat_ws(">", transform(
        sort_array(collect_list(struct($"k", $"event_type"))),
        s => s.getField("event_type"))).as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_sessions"))
    paths
      .orderBy($"n_sessions".desc, $"path").limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy($"n_sessions".desc, $"path")).cast("long"))
  }

  // ---------------------------------------------------------------- A65
  /** Time-weighted average value per user (TWAP — the time-series summary
    * that weights each reading by how long it was current, the standard
    * fix for irregular sampling where a plain mean over-weights bursts):
    * each event's value is held until the user's next event; TWAP =
    * Σ vᵢ·gapᵢ / Σ gapᵢ over the hold intervals. Users with one event or
    * a zero total span have no defined holding time and are excluded.
    *
    * Exactness: gaps are exact integer micros from `lead`; values go
    * through cents (`decimal·100 → BIGINT`, exact), so the numerator is a
    * pure BIGINT sum — NOT a wide decimal: DuckDB's wide-decimal→double
    * cast double-rounds (unscaled→double, then /10^scale), off by an ulp
    * from Spark's exact-rational rounding, and an integer→double cast is
    * the identical single rounding everywhere. The final division is one
    * IEEE op of two such casts. (Numerator headroom: cents ≤ 5e4, gaps ≤
    * ~3e12 µs, so ~2e14/hold — loud long overflow needs ~50k year-long
    * holds per user.) Scale: one shuffle on user_id; the lead window and
    * the groupBy share the user partitioning (no second exchange — the
    * aggregation is map-side-partial over data already hashed by user). */
  def q136Twap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id",
        unix_micros($"ts".cast("timestamp")).as("us"),
        (money($"value") * 100).cast("long").as("cents"))
      .withColumn("gap", lead($"us", 1).over(w) - $"us")
      .filter($"gap".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_holds"), sum($"gap").as("span_us"),
        sum($"cents" * $"gap").as("num_cents"))
      .filter($"span_us" > 0)
      .select($"user_id", $"n_holds", $"span_us",
        (asDouble($"num_cents") / asDouble($"span_us" * 100)).as("twap"))
  }

  // ---------------------------------------------------------------- A66
  /** OHLC resampling — per user × 5-minute bucket open/high/low/close/
    * count/sum, the downsampling pass every time-series store runs to turn
    * an irregular event stream into fixed bars (and the batch twin of a
    * tumbling-window streaming agg).
    *
    * Open/close are ORDER-DEPENDENT aggregates with no direct Spark
    * aggregate function; the standard trick is an order-embedding struct:
    * `min(struct(us, event_id, v))` compares lexicographically, so its `v`
    * field IS the value of the earliest event (event_id breaks ts ties —
    * total order, deterministic on any partitioning). That keeps the whole
    * operator ONE partial-aggregated groupBy — no window, no per-bucket
    * sort, map-side combine does most of the work before the single
    * (user, bucket) shuffle. Bucket index is integer `div` of epoch µs
    * (q83's rule: a double division can round across a boundary). Values
    * go through DECIMAL(14,2) so high/low/sums are exact; the final cast
    * to DOUBLE is the same single rounding in both engines. */
  def q137OhlcBars(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_id",
        unix_micros($"ts".cast("timestamp")).as("us"),
        money($"value").as("v"))
      .withColumn("bucket", expr("us div 300000000"))
    e.groupBy($"user_id", $"bucket")
      .agg(
        asDouble(min(struct($"us", $"event_id", $"v")).getField("v")).as("open"),
        asDouble(max($"v")).as("high"),
        asDouble(min($"v")).as("low"),
        asDouble(max(struct($"us", $"event_id", $"v")).getField("v")).as("close"),
        count(lit(1)).as("n"),
        asDouble(sum($"v")).as("vsum"))
  }

  // ---------------------------------------------------------------- A67
  /** Co-purchase pairs — the market-basket co-occurrence matrix (parts
    * bought together in one order), ranked by support: the classic
    * recommender / affinity-analysis primitive.
    *
    * Scale: the quadratic lives INSIDE each order — the self-join keys on
    * l_orderkey, so per-order fan-out is (items choose 2), bounded by the
    * max basket size (single digits in order data), never |lineitem|²;
    * both sides are the same distinct projection, so the join is
    * co-partitioned on one orderkey exchange. Pair counts partial-agg
    * before their shuffle; the final ranking is rank-after-TakeOrdered
    * (q119's pattern — per-partition top-k, the row_number window only
    * ever sees the k survivors). */
  def q138Copurchase(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    // both self-join sides read the SAME distinct projection — materialize
    // it once (q106's rule): the spill is 16 B/row of deduped keys, cheaper
    // than scanning + re-distincting lineitem per plan reference
    val li = graft.Lineage.truncate(
      Tables.lineitem(spark, dir)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct(),
      eager = false).df
    li.as("a").join(li.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("pk_a"), $"b.pk".as("pk_b"))
      .groupBy($"pk_a", $"pk_b").agg(count(lit(1)).as("n_orders"))
      .orderBy($"n_orders".desc, $"pk_a", $"pk_b").limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy($"n_orders".desc, $"pk_a", $"pk_b")).cast("long"))
  }

  // ---------------------------------------------------------------- A68
  /** Peak concurrency — the maximum number of simultaneously-active events
    * (each event held active for 5 minutes) and the earliest instant it is
    * reached: the sweep-line / interval-stabbing query behind capacity
    * planning and concurrency SLAs.
    *
    * The textbook solution is ±1 deltas at interval ends and a running sum
    * over the global time order — `sum() OVER (ORDER BY pt)`: ONE task at
    * any scale. Here deltas are pre-aggregated per distinct instant (which
    * also makes the running value well-defined AT each instant — opens and
    * closes at the same µs net out, no within-tie processing-order
    * artifact; [start, end) semantics) and the running sum is
    * [[Rank.prefixSumAndTotal]] — range partitions, per-partition sums, a
    * metadata-sized carry-in per partition. The single-row answer is
    * TakeOrdered over the swept points. */
  def q142PeakConcurrency(spark: SparkSession, dir: String,
      holdUs: Long = 300000000L): DataFrame = {
    val us = Tables.events(spark, dir)
      .select(unix_micros($"ts".cast("timestamp")).as("us"))
    // ±1 deltas via ONE explode per event, not a unionAll whose branches
    // each re-scan events (row-identical output)
    val deltas = us.select(explode(array(
        struct($"us".as("pt"), lit(1L).as("d")),
        struct(($"us" + holdUs).as("pt"), lit(-1L).as("d")))).as("__e"))
      .select($"__e.pt".as("pt"), $"__e.d".as("d"))
      .groupBy($"pt").agg(sum($"d").as("d"))
    val run = Rank.prefixSum(deltas, Seq($"pt".asc), $"d", "conc") // total unused
    run.orderBy($"conc".desc, $"pt".asc).limit(1)
      .select($"conc".as("peak"), $"pt".as("at_us"))
  }

  // ---------------------------------------------------------------- A69
  /** One-scan column profiler — per numeric lineitem column: value/null
    * counts, EXACT distinct count, min/max, and the decimal-exact sum. The
    * data-quality audit every ingestion pipeline runs before a table is
    * trusted; at 100 TB the whole point is doing ALL columns in ONE scan —
    * a naive profiler issues one query per column and reads the table N
    * times.
    *
    * Plan shape: a single Aggregate computes every column's stats
    * together; the multiple exact `count(distinct)`s compile to Catalyst's
    * Expand strategy (rows multiplied ×|columns| map-side, one shuffle,
    * never N scans). The single stats row then unpivots driver-side via
    * `stack` — metadata-sized. Exact distincts are the audit-grade choice;
    * swap `approx_count_distinct` when ±2% is acceptable and the Expand
    * multiply matters. */
  def q143Profile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // one single-distinct aggregate branch PER COLUMN, unioned: four
    // countDistincts in ONE aggregate plan through Expand — ×5 every
    // lineitem row into one giant mixed-grouping hash aggregate (r19
    // profile: ~7 s CPU, the query's whole cost), where a single distinct
    // column rewrites to an ordinary two-phase aggregate. The four
    // branches each scan ONE pruned column and run inside one job;
    // same values, same (col_name-keyed) rows.
    val branches = cols.map { c =>
      Tables.lineitem(spark, dir).agg(
          count(col(c)).as("n_vals"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          asDouble(min(col(c))).as("min_val"),
          asDouble(max(col(c))).as("max_val"),
          asDouble(sum(money(col(c)))).as("sum_val"))
        .select(lit(c).as("col_name"), col("n_vals"), col("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"), col("sum_val"))
    }
    branches.reduce(_ unionAll _)
  }

  // ---------------------------------------------------------------- A70
  /** MAD robust outlier detection — per return flag: median, median
    * absolute deviation, and the count beyond `k`·MAD. The
    * breakdown-point-0.5 alternative to q129's z-score (a mean/stdev
    * baseline is itself dragged by the outliers it is hunting; the median
    * pair is not).
    *
    * Inherently multi-pass (MAD needs the median first): three pushed-down
    * scans of the same two columns — cheaper than materializing a
    * corpus-sized deviation table to save a scan. Each pass's per-group
    * state is the value histogram (`percentile` buckets by DISTINCT value
    * — the quantity domain is small), the medians/MADs are a ≤|flags|-row
    * broadcast back into the fact scans, and the outlier test is exact
    * IEEE compares on identically-derived doubles (quantile interpolation
    * parity proven by q24). */
  def q144Mad(spark: SparkSession, dir: String, k: Double = 3.0): DataFrame = {
    val li = Tables.lineitem(spark, dir).select($"l_returnflag", $"l_quantity")
    val med = li.groupBy($"l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("med"))
    val dev = li.join(broadcast(med), Seq("l_returnflag"))
      .withColumn("adev", abs($"l_quantity" - $"med"))
    val mads = dev.groupBy($"l_returnflag")
      .agg(first($"med").as("med"),
        expr("percentile(adev, 0.5)").as("mad"),
        count(lit(1)).as("n"))
    val outliers = dev
      .join(broadcast(mads.select($"l_returnflag", $"mad".as("mad2"))),
        Seq("l_returnflag"))
      .groupBy($"l_returnflag")
      .agg(sum(when($"adev" > lit(k) * $"mad2", 1L).otherwise(0L))
        .as("n_outliers"))
    mads.join(outliers, Seq("l_returnflag"))
      .select($"l_returnflag", $"med", $"mad", $"n", $"n_outliers",
        (asDouble($"n_outliers") / asDouble($"n")).as("outlier_rate"))
  }

  // ---------------------------------------------------------------- A71
  /** Day-of-week × hour-of-day seasonality heat map — event count, exact
    * distinct users, and value sum per (dow, hour) cell: the load-shape /
    * staffing profile behind capacity dashboards.
    *
    * Calendar fields come from INTEGER epoch arithmetic, not calendar
    * functions — `dayofweek`-style builtins disagree across engines on
    * numbering (Sunday 0 vs 1 vs 7) and resolve through timezone
    * machinery; `(days + 4) mod 7` (epoch day 0 was a Thursday) and
    * `hours mod 24` are unambiguous everywhere. ≤168 cells: one
    * partial-aggregated shuffle of a dimension-sized frame; the exact
    * per-cell user distinct is the only corpus-sized state and rides the
    * same single shuffle. */
  def q145Seasonality(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select($"user_id", money($"value").as("v"),
        unix_micros($"ts".cast("timestamp")).as("us"))
      .withColumn("dow", expr("(us div 86400000000 + 4) % 7"))
      .withColumn("hod", expr("(us div 3600000000) % 24"))
      .groupBy($"dow", $"hod")
      .agg(count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        asDouble(sum($"v")).as("vsum"))

  // ---------------------------------------------------------------- A72
  /** Explicit GROUPING SETS with `grouping()` disambiguation — the
    * reporting surface between q18's ROLLUP and q39's CUBE: exactly the
    * requested grain combinations ((status, priority), (status), ()), plus
    * the `grouping()` indicator that separates "NULL because aggregated
    * over" from a genuine NULL group key — the distinction every BI layer
    * needs and the raw NULL-filled output loses.
    *
    * Scale: same Expand-based single pass as rollup/cube (rows ×|sets|
    * map-side, one partial-agged shuffle over the union of grain
    * cardinalities — dimension-sized here). */
  def q147GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select($"o_orderstatus", $"o_orderpriority", money($"o_totalprice").as("v"))
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"), Seq($"o_orderstatus"),
          Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"), asDouble(sum($"v")).as("total"),
        grouping($"o_orderstatus").cast("long").as("g_status"),
        grouping($"o_orderpriority").cast("long").as("g_priority"))

  // ---------------------------------------------------------------- A73
  /** Bag-semantics set operations — EXCEPT ALL / INTERSECT ALL, the
    * multiset algebra q28/q29's DISTINCT variants can't express
    * (multiplicities matter: "orders minus the expensive ones" must keep
    * a status/priority combination once PER surviving order). Spark plans
    * these as a replicated-count Generate (no row-by-row anti-join), so
    * the cost is two aggregations over the group domain, not |rows|²; the
    * result is aggregated to (op, group, multiplicity) — deterministic
    * output, and the multiplicities ARE the bag semantics on display. */
  def q149BagOps(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.orders(spark, dir)
      .select($"o_orderstatus", $"o_orderpriority")
    val expensive = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 150000.0)
      .select($"o_orderstatus", $"o_orderpriority")
    def counted(df: DataFrame, op: String): DataFrame =
      df.groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .select(lit(op).as("op"), $"o_orderstatus", $"o_orderpriority", $"cnt")
    counted(all.exceptAll(expensive), "except_all")
      .unionByName(counted(all.intersectAll(expensive), "intersect_all"))
  }

  // ---------------------------------------------------------------- A74
  /** Week-over-week deltas — per event type: weekly event counts with the
    * previous week's count, absolute delta, and relative change (the
    * period-over-period reporting shape behind every growth dashboard).
    * Weeks are integer epoch arithmetic (q145's rule — no calendar
    * builtin drift); the lag window runs over the AGGREGATED
    * (type × week) frame — dimension-sized, key-parallel (q116's rule);
    * pct is ONE IEEE division of exact counts (first week of a type:
    * null prev → null delta/pct, both engines). */
  def q150WowDelta(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.events(spark, dir)
      .select($"event_type",
        unix_micros($"ts".cast("timestamp")).as("us"))
      .withColumn("week", expr("us div 604800000000"))
      .groupBy($"event_type", $"week")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"week")
    weekly
      .withColumn("prev_n", lag($"n", 1).over(w))
      .withColumn("delta", $"n" - $"prev_n")
      .withColumn("pct_change", asDouble($"delta") / asDouble($"prev_n"))
  }

  // ---------------------------------------------------------------- A75
  /** Item-item collaborative filtering — per part, the top-3 most-similar
    * parts by cosine over order co-occurrence (sim = n_ab/√(n_a·n_b)):
    * the classic "customers also bought" batch job, one normalization
    * away from q138's support-ranked pairs.
    *
    * Scale: co-occurrence counting is q138's shape (quadratic confined
    * inside each order, one materialized distinct projection feeding both
    * self-join sides); the per-item support join is UNFORCED (item table
    * is catalog-sized, not dimension-sized at retail scale — optimizer
    * broadcasts only if it fits, q119's rule); symmetric pairs explode
    * into both directions so each item ranks its OWN recommendation list,
    * and the `rank ≤ 3` filter compiles to WindowGroupLimit — no item
    * ever materializes its full candidate list. sim is one IEEE division
    * by one IEEE sqrt of an exact integer product. */
  def q152ItemCf(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // pinned at session width on the self-join key: AQE coalesces the
    // ~6 MB distinct to a handful of partitions, and the quadratic
    // within-basket pair expansion then runs on those few tasks (r19
    // profile: the pair map at 20/32 tasks dominated the query)
    val li = graft.Lineage.truncate(
      Tables.lineitem(spark, dir)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
        .repartition(graft.GraftSession.shufflePartitions(spark), $"ok"),
      eager = false).df
    val support = li.groupBy($"pk").agg(count(lit(1)).as("n"))
    // the co-occurrence aggregate feeds BOTH union branches — materialize
    // it too (q106's rule), or the quadratic self-join runs twice
    val pairs = graft.Lineage.truncate(
      li.as("a").join(li.as("b"),
          $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
        .groupBy($"a.pk".as("pk_a"), $"b.pk".as("pk_b"))
        .agg(count(lit(1)).as("n_ab")),
      eager = false).df
    // ONE explode, not a unionAll of two plan references over the
    // materialized pair frame (reads it once instead of twice)
    val directed = pairs.select(explode(array(
        struct($"pk_a".as("item"), $"pk_b".as("rec")),
        struct($"pk_b".as("item"), $"pk_a".as("rec")))).as("__e"), $"n_ab")
      .select($"__e.item".as("item"), $"__e.rec".as("rec"), $"n_ab")
      .join(support.select($"pk".as("item"), $"n".as("n_item")), Seq("item"))
      .join(support.select($"pk".as("rec"), $"n".as("n_rec")), Seq("rec"))
      .withColumn("sim",
        asDouble($"n_ab") / sqrt(asDouble($"n_item" * $"n_rec")))
    directed
      .withColumn("rk", row_number().over(
        Window.partitionBy($"item")
          .orderBy($"sim".desc, $"rec".asc)).cast("long"))
      .filter($"rk" <= k)
      .select($"item", $"rk", $"rec", $"n_ab", $"n_item", $"n_rec", $"sim")
  }

  // ---------------------------------------------------------------- A76
  /** Clamped running balance — per user, a value ledger where purchases
    * draw down and other events top up, with the balance FLOORED AT ZERO
    * (inventory/credit semantics: you can't spend what you don't have).
    *
    * The recurrence b_t = max(0, b_{t−1} + δ_t) is NONLINEAR — not a
    * window sum, and the naive evaluation is a sequential per-user scan.
    * The max-plus identity b_t = S_t − min(0, min_{i≤t} S_i) (S = plain
    * prefix sum) turns it into TWO ordinary prefix aggregates that share
    * one per-user sort — fully key-parallel, no sequential pass anywhere
    * (spec replays the recurrence directly to witness the identity).
    * All arithmetic is exact integer cents; the ledger sign rule is
    * deterministic (purchase = debit, everything else = credit). */
  def q153ClampedBalance(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_id",
        unix_micros($"ts".cast("timestamp")).as("us"),
        when($"event_type" === "purchase",
          -(money($"value") * 100).cast("long"))
          .otherwise((money($"value") * 100).cast("long")).as("delta"))
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val balances = e
      .withColumn("s", sum($"delta").over(w))
      .withColumn("m", min($"s").over(w))
      .withColumn("balance", $"s" - least(lit(0L), $"m"))
    balances.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        max(struct($"us", $"event_id", $"balance")).getField("balance")
          .as("final_cents"),
        max($"balance").as("peak_cents"),
        sum(when($"balance" === 0L, 1L).otherwise(0L)).as("n_broke"))
  }

  // ---------------------------------------------------------------- A77
  /** Declarative data-constraint audit (the Deequ/dbt-test shape): a
    * fixed battery of table contracts — NOT NULL, value range, accepted
    * values, compound-key uniqueness, positivity — evaluated in ONE scan,
    * emitting one row per constraint with its violation count and
    * verdict. The ingestion gate every production table sits behind; at
    * 100 TB the whole point is that adding a constraint adds a counter to
    * the SAME single-pass aggregate, not another table scan (q143's
    * profiler discipline — the uniqueness check's exact distinct is the
    * one Expand-widened counter).
    *
    * All counts are exact integers; `pass` is a pure predicate of the
    * counts. The stats row unpivots driver-side via `stack` —
    * metadata-sized. */
  def q156Constraints(spark: SparkSession, dir: String): DataFrame = {
    val one = Tables.lineitem(spark, dir).agg(
      count(lit(1)).as("n"),
      sum(when($"l_orderkey".isNull, 1L).otherwise(0L)).as("c_nn"),
      sum(when($"l_discount" < 0.0 || $"l_discount" > 0.1, 1L)
        .otherwise(0L)).as("c_range"),
      sum(when(!$"l_returnflag".isin("A", "N", "R"), 1L).otherwise(0L))
        .as("c_domain"),
      // distinct over the STRUCT, not the column list: countDistinct(a, b)
      // skips rows where any column is NULL (mis-counting them as
      // duplicates), and diverges from DuckDB's count(DISTINCT (a, b)) on
      // exactly the dirty rows a constraint audit exists to catch
      (count(lit(1)) -
        countDistinct(struct($"l_orderkey", $"l_linenumber")))
        .as("c_unique"),
      sum(when($"l_quantity" <= 0.0, 1L).otherwise(0L)).as("c_pos"))
    one.selectExpr(
      """stack(5,
        |  'not_null',        'l_orderkey',               c_nn,
        |  'range_0_to_0.1',  'l_discount',               c_range,
        |  'accepted_values', 'l_returnflag',             c_domain,
        |  'unique_key',      'l_orderkey,l_linenumber',  c_unique,
        |  'positive',        'l_quantity',               c_pos
        |) AS (constraint, col_name, n_violations)""".stripMargin,
      "n AS n_rows")
      .withColumn("pass", $"n_violations" === 0L)
  }

  // ---------------------------------------------------------------- A78
  /** Conversion-latency distribution — hours from a user's FIRST signup to
    * their first purchase AT OR AFTER that signup, bucketed: the
    * time-to-convert histogram behind activation dashboards (q82's funnel
    * says WHO converts; this says HOW FAST). A pre-signup purchase does
    * NOT disqualify the user — the staged semantics q82 establishes (an
    * earlier min-of-all-purchases formulation silently dropped users who
    * bought both before and after signing up).
    *
    * Scale: ONE events scan — s0 rides a per-user window min, the
    * post-signup purchase filter and the per-user min-aggregate share
    * that same user_id partitioning (no second exchange), then integer
    * `div` bucketing (q83's boundary rule) into a ≤buckets-sized final
    * aggregate. */
  def q158ConversionLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("us"))
      .withColumn("s0",
        min(when($"event_type" === "signup", $"us")).over(w))
      .filter($"event_type" === "purchase" && $"s0".isNotNull &&
        $"us" >= $"s0")
      .groupBy($"user_id")
      .agg(min($"us").as("p0"), max($"s0").as("s0"))
      .select(expr("(p0 - s0) div 3600000000").as("lag_hours"))
      .groupBy($"lag_hours")
      .agg(count(lit(1)).as("n_users"))
  }

  // ---------------------------------------------------------------- A79
  /** Growth accounting — per week: NEW users (first week of activity),
    * RETAINED (active this week and last), RESURRECTED (active this week,
    * inactive last week, but seen before), and CHURNED (active last week,
    * inactive this one). The MAU-accounting report every growth team
    * runs; q83's cohort retention slices by signup cohort, this slices by
    * adjacent-period activity flow.
    *
    * Scale: the corpus-sized work is ONE distinct over (user, week)
    * (partial-agged), and classification + churn both come from a SINGLE
    * per-user lag/lead window pass over each user's ACTIVE WEEKS ONLY
    * (≤ weeks-per-user rows — bounded by the calendar, not by events; an
    * earlier anti-join formulation re-ran the distinct three times).
    * Churn attributes to week+1 (lead missing or non-adjacent) and is
    * RIGHT-CENSORED at the last observed week — the data ending is not
    * evidence that the final week's users churned. The final aggregate is
    * ≤|weeks|·4 rows. */
  def q159GrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    // the distinct feeds the window pass AND the max-week censor —
    // materialize once (q106's rule)
    val uw = graft.Lineage.truncate(
      Tables.events(spark, dir)
        .select($"user_id",
          expr("unix_micros(cast(ts as timestamp)) div 604800000000")
            .as("week"))
        .distinct(),
      eager = false).df
    val w = Window.partitionBy($"user_id").orderBy($"week")
    val flagged = uw
      .withColumn("prev", lag($"week", 1).over(w))
      .withColumn("next", lead($"week", 1).over(w))
      .withColumn("status",
        when($"prev".isNull, lit("new"))
          .when($"prev" === $"week" - 1, lit("retained"))
          .otherwise(lit("resurrected")))
    val active = flagged.groupBy($"week", $"status")
      .agg(count(lit(1)).as("n_users"))
    val churned = flagged
      .filter($"next".isNull || $"next" =!= $"week" + 1)
      .select(($"week" + 1).as("week"), lit("churned").as("status"))
      .groupBy($"week", $"status").agg(count(lit(1)).as("n_users"))
    // censor the week past the observation window: a (maxWeek+1, churned)
    // row would report the dataset ending as 100% churn
    val maxWeek = uw.agg(max($"week").as("mw"))
    active.unionByName(churned)
      .crossJoin(broadcast(maxWeek))
      .filter($"week" <= $"mw")
      .select($"week", $"status", $"n_users")
  }

  // ---------------------------------------------------------------- A80
  /** RFM customer segmentation — recency / frequency / monetary quintiles,
    * the standard CRM scoring matrix (score 1 = best quintile on each
    * axis) plus the classic named segments derived from the score triple.
    *
    * Every quintile comes from [[Rank.ntile]] — SQL NTILE(5) semantics
    * computed as integer arithmetic on a distributed global row number
    * (range exchange + metadata offsets), never the unpartitioned
    * `ntile() OVER (ORDER BY …)` window that funnels every customer
    * through one task (q105's rule). Ties break on custkey so the order
    * is total and engine-independent. The monetary axis ranks the EXACT
    * decimal sum (q1's convention) — fp addition order can't reorder two
    * customers. One orders-table aggregation feeds all three rankings. */
  def q162Rfm(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val base = graft.Lineage.truncate(
      o.groupBy($"o_custkey".as("custkey"))
        .agg(max($"o_orderdate").as("last_order"),
          count(lit(1)).as("frequency"),
          sum($"o_totalprice".cast("decimal(14,2)")).as("monetary")),
      eager = false).df
    val r = Rank.ntile(base, Seq($"last_order".desc, $"custkey".asc), 5,
      "r_score")
    val rf = Rank.ntile(r, Seq($"frequency".desc, $"custkey".asc), 5,
      "f_score")
    val rfm = Rank.ntile(rf, Seq($"monetary".desc, $"custkey".asc), 5,
      "m_score")
    rfm.select($"custkey", $"last_order", $"frequency",
        $"monetary".cast("double").as("monetary"),
        $"r_score".cast("long").as("r_score"),
        $"f_score".cast("long").as("f_score"),
        $"m_score".cast("long").as("m_score"))
      .withColumn("segment",
        when($"r_score" <= 2 && $"f_score" <= 2 && $"m_score" <= 2,
          lit("champion"))
          .when($"r_score" <= 2 && $"f_score" <= 3, lit("loyal"))
          .when($"r_score" >= 4 && $"f_score" >= 4, lit("lost"))
          .when($"r_score" >= 4, lit("at_risk"))
          .otherwise(lit("regular")))
  }

  // ---------------------------------------------------------------- A81
  /** Week-over-week distribution drift — the production data-quality
    * monitor that catches a broken event producer or a scraper behind a
    * changed site: each week's event-type distribution is tested against
    * the PREVIOUS week's with a chi-squared statistic; a per-type
    * contribution above `threshold` flags the drifted type.
    *
    * Cross-engine exactness: every count is an exact integer; `expected`
    * is one fp expression over exact ints (ref_n·cur_total/ref_total) and
    * `contrib` one more ((cur_n−expected)²/expected) — fixed operation
    * order, no fp accumulation anywhere (q93's rule: the only doubles are
    * final expressions of exact sums, never sums of doubles). The global
    * statistic is the client-trivial sum of per-type contributions;
    * emitting per-type rows is what makes the monitor actionable anyway.
    *
    * Scale: one partial-aggregated count per (week, type) — shuffle rows
    * bounded by weeks×types, not events — then metadata-sized self-joins
    * on (week−1, type) and per-week totals. Types absent in one of the
    * two weeks surface with a zero side (full outer), so a NEW event type
    * appearing is itself a drift signal, not a silent drop. */
  def q163DriftChi2(spark: SparkSession, dir: String,
      threshold: Double = 25.0): DataFrame = {
    val wk = expr("unix_micros(cast(ts as timestamp)) div 604800000000")
    val counts = graft.Lineage.truncate(
      Tables.events(spark, dir)
        .select(wk.as("week"), $"event_type")
        .groupBy($"week", $"event_type").agg(count(lit(1)).as("n")),
      eager = false).df
    val totals = counts.groupBy($"week").agg(sum($"n").as("total"))
    val cur = counts.select($"week", $"event_type", $"n".as("cur_n"))
    val ref = counts.select(($"week" + 1).as("week"), $"event_type",
      $"n".as("ref_n"))
    // weeks present on both sides (full outer over types WITHIN such
    // weeks: a type missing one side shows n = 0 there)
    val weeks = cur.select($"week").distinct()
      .intersect(ref.select($"week").distinct())
    val curTot = totals.select($"week", $"total".as("cur_total"))
    val refTot = totals.select(($"week" + 1).as("week"),
      $"total".as("ref_total"))
    cur.join(ref, Seq("week", "event_type"), "full_outer")
      .join(weeks, Seq("week"), "left_semi")
      .na.fill(0L, Seq("cur_n", "ref_n"))
      .join(curTot, Seq("week")).join(refTot, Seq("week"))
      .withColumn("expected",
        $"ref_n".cast("double") * $"cur_total".cast("double")
          / $"ref_total".cast("double"))
      .withColumn("contrib",
        when($"expected" > 0.0,
          ($"cur_n".cast("double") - $"expected")
            * ($"cur_n".cast("double") - $"expected") / $"expected")
          // a brand-new type has expected 0: conventionally its own count
          .otherwise($"cur_n".cast("double")))
      .withColumn("drifted", $"contrib" > threshold)
      .select($"week", $"event_type", $"ref_n", $"cur_n", $"expected",
        $"contrib", $"drifted")
  }

  // ---------------------------------------------------------------- A82
  /** TPC-H Q8 shape — national market share: of all `pType`-part volume
    * sold into `regionName` customers, what fraction per order-year came
    * from `targetNation` suppliers. The classic nested-aggregation report
    * (a conditional sum over the SAME groups as the total), expressed as
    * one groupBy with a `when`-guarded numerator — never two scans joined
    * back (reference query surface: TiFlinkApp.java:270 StreamSQL).
    *
    * Scale: part/supplier/nation/region are dimensions → broadcast; the
    * two fact joins (lineitem→orders, orders→customer) shuffle on their
    * keys. Part filter applied BEFORE its broadcast so the build side is
    * the matching-parts subset. Volume sums in exact DECIMAL; the share is
    * ONE IEEE division of the two decimal→double casts (q117's rule). */
  def q166MarketShare(spark: SparkSession, dir: String,
      pType: String = "PROMO", targetNation: String = "NATION_3",
      regionName: String = "ASIA"): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val volume = money($"l_extendedprice") * (one - rate($"l_discount"))
    val custRegion = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .join(broadcast(Tables.region(spark, dir).filter($"r_name" === regionName)),
          $"n_regionkey" === $"r_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).filter($"p_type" === pType)
        .select($"p_partkey")), $"l_partkey" === $"p_partkey")
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(custRegion, $"o_custkey" === $"c_custkey", "left_semi")
      // supplier joins UNFORCED: a real supplier dim is bounded, but the
      // optimizer/AQE should decide it fits, not a hint (q119's rule)
      .join(suppNation, $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg(
        asDouble(sum(when($"supp_nation" === targetNation, volume)
          .otherwise(lit(0).cast(DecimalType(14, 2))))).as("nation_volume"),
        asDouble(sum(volume)).as("total_volume"))
      .withColumn("mkt_share", $"nation_volume" / $"total_volume")
  }

  // ---------------------------------------------------------------- A83
  /** TPC-H Q11 shape — parts whose revenue exceeds a fixed FRACTION of
    * corpus-wide revenue: a per-group aggregate filtered against a global
    * scalar. The global total is a 1-row aggregate cross-joined back
    * broadcast (metadata-sized — never a second full scan through a
    * non-equi join), so the fact table is read ONCE for the per-part sums
    * and once for the total; Spark's ReuseExchange collapses the shared
    * aggregate when the plan allows.
    *
    * Scale: per-part sums partial-aggregate map-side; the threshold
    * compare is a map-only filter over the |parts|-sized aggregate. Value
    * sums decimal-exact; `share` ONE IEEE division (q117's rule). */
  def q167ValueShare(spark: SparkSession, dir: String,
      fraction: Double = 0.0005): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", money($"l_extendedprice").as("v"))
    // materialized once: the global total reads the |parts|-sized
    // aggregate, not a second corpus scan (Catalyst does not reuse the
    // exchange across the two aggregations on its own — measured)
    val perPart = graft.Lineage.truncate(
      li.groupBy($"l_partkey").agg(sum($"v").as("value_dec")),
      eager = false).df
    val total = perPart.agg(sum($"value_dec").as("total_dec"))
    perPart.crossJoin(broadcast(total))
      .withColumn("share",
        asDouble($"value_dec") / asDouble($"total_dec"))
      .filter($"share" > fraction)
      .select($"l_partkey", asDouble($"value_dec").as("value"), $"share")
  }

  // ---------------------------------------------------------------- A84
  /** TPC-H Q21 shape — suppliers who alone held up a multi-supplier
    * order: the supplier shipped LATE (> `lateDays` after the order
    * date), at least one OTHER supplier is on the same order (EXISTS),
    * and no OTHER supplier on the order also shipped late (NOT EXISTS).
    * The exists/not-exists pair over the same fact table is the hard part
    * of Q21's plan: both collapse to per-order AGGREGATES (distinct
    * supplier count, distinct LATE supplier count) computed in ONE pass
    * over lineitem — never two correlated-subquery re-scans.
    *
    * Scale: one lineitem→orders shuffle join keyed on orderkey, one
    * per-(order, supplier) aggregate, one per-order aggregate over that
    * (both partial-aggregable), then a supplier-keyed count. Supplier dim
    * broadcasts for the name lookup. */
  def q168WaitingSuppliers(spark: SparkSession, dir: String,
      lateDays: Int = 60): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey",
        ($"l_shipdate" > $"o_orderdate" + expr(s"INTERVAL $lateDays DAYS"))
          .as("late"))
    // one pass: per (order, supplier) did-ship-late, then per order the
    // supplier census — the EXISTS/NOT-EXISTS pair as two counts
    val perSupp = li.groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"late").as("supp_late"))
    val perOrder = perSupp.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_supps"),
        sum(when($"supp_late", lit(1L)).otherwise(lit(0L))).as("n_late"))
    perSupp.filter($"supp_late")
      .join(perOrder.filter($"n_supps" >= 2 && $"n_late" === 1),
        Seq("l_orderkey"), "left_semi")
      .groupBy($"l_suppkey").agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_name")), $"l_suppkey" === $"s_suppkey")
      .select($"s_name", $"l_suppkey".as("suppkey"), $"numwait")
  }

  // ---------------------------------------------------------------- A85
  /** Last-touch marketing attribution: each purchase is credited to the
    * most recent click/view by the same user STRICTLY before it and
    * within `windowDays`; purchases with no in-window touch are 'direct'.
    * Per channel: conversions + decimal-exact attributed revenue. The
    * attribution itself is ONE per-user window pass — `last(touch,
    * ignoreNulls)` over rows-preceding carries the latest touch struct to
    * every event with no self-join of purchases against touches (the
    * naive range-join formulation shuffles |purchases|·|touches| pairs).
    *
    * Scale: one user_id hash exchange + one per-user sort shared by the
    * window; the channel rollup is a ≤|event_types|+1-group aggregate.
    * Order within the frame is (ts, event_id) — total, so the "latest"
    * touch is deterministic under ties (q25's rule). */
  def q169Attribution(spark: SparkSession, dir: String,
      windowDays: Int = 7): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_micros($"ts".cast("timestamp")).as("us"))
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = ev.withColumn("lt",
      last(when($"event_type".isin("click", "view"),
        struct($"us".as("t_us"), $"event_type".as("t_type"))), ignoreNulls = true)
        .over(w))
    touched.filter($"event_type" === "purchase")
      .withColumn("channel",
        when($"lt".isNotNull &&
          $"us" - $"lt.t_us" <= lit(windowDays.toLong * 86400000000L),
          $"lt.t_type").otherwise(lit("direct")))
      .groupBy($"channel")
      .agg(count(lit(1)).as("conversions"),
        asDouble(sum(money($"value"))).as("revenue"))
  }

  // ---------------------------------------------------------------- A86
  /** Sketch-based quantile profiling (`approx_percentile`, Greenwald-
    * Khanna): p50/p90/p99 of event value per type at bounded memory — the
    * scale path past q24's exact percentiles, whose full sort-per-group
    * a 100 TB column can't afford. GK guarantees rank error ≤ n/accuracy:
    * with accuracy 10⁴ the p99 of a billion rows sits within ±0.01% of
    * true rank, and the sketch is partial/merge-shaped (map-side partials,
    * one |types|-group shuffle of sketches, not values).
    *
    * Approximate by design → rows-only in the driver; the spec prices the
    * approximation against q24's exact machinery with the GK rank bound.
    * Results are still DETERMINISTIC for a fixed input (GK is
    * merge-order-stable under Spark's sorted partial aggregation at a
    * fixed partitioning — the spec asserts repeat-run equality). */
  def q174ApproxQuantiles(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame =
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        percentile_approx($"value", lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx($"value", lit(0.9), lit(accuracy)).as("p90"),
        percentile_approx($"value", lit(0.99), lit(accuracy)).as("p99"))

  // ---------------------------------------------------------------- A87
  /** Inter-event-time (burstiness) profile: per event type, the
    * distribution of gaps between a user's consecutive events over fixed
    * human-scale bands (<1min, <10min, <1h, <1day, ≥1day) — the arrival-
    * process diagnostic behind session-gap and watermark choices (q89's
    * 30-min gap, B14's watermark are both parameters this report
    * justifies). Bands are a CASE ladder over exact integer µs — no
    * log-bucketing fp, no engine calendar (q145's rule).
    *
    * Scale: one user_id hash exchange + per-user sort for the lag window;
    * the rollup is a ≤|types|·5-group partial aggregate. Share is ONE
    * IEEE division of exact counts. */
  def q178InterEventGaps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("us"))
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val gaps = ev
      .withColumn("gap_us", $"us" - lag($"us", 1).over(w))
      .filter($"gap_us".isNotNull)
      .withColumn("band",
        when($"gap_us" < 60L * 1000000L, "lt_1m")
          .when($"gap_us" < 600L * 1000000L, "lt_10m")
          .when($"gap_us" < 3600L * 1000000L, "lt_1h")
          .when($"gap_us" < 86400L * 1000000L, "lt_1d")
          .otherwise("ge_1d"))
    val counts = gaps.groupBy($"event_type", $"band")
      .agg(count(lit(1)).as("n"),
        min($"gap_us").as("min_gap_us"), max($"gap_us").as("max_gap_us"))
    val totals = Window.partitionBy($"event_type")
    // share window runs over the ≤|types|·5 aggregated frame — bounded
    counts.withColumn("share",
      $"n".cast("double") / sum($"n").over(totals).cast("double"))
  }

  // ---------------------------------------------------------------- A89
  /** Association-rule mining over order baskets (the confidence/lift
    * step q138's raw co-purchase counts feed — support alone can't tell
    * "bought together because both are popular" from a real association;
    * LIFT = P(b|a)/P(b) is the standard correction): directed rules
    * a→b with support ≥ `minSupport` baskets and confidence ≥
    * `minConfidence`. All three metrics are single IEEE divisions of
    * exact basket counts — no fp accumulation (q93's rule).
    *
    * Scale: q138's order-confined pair machinery (quadratic bounded by
    * basket size, never |lineitem|²) — pair counts and per-item basket
    * counts partial-aggregate; the item-count joins are UNFORCED (catalog
    * can be corpus-sized, q119's rule); the total-baskets scalar (1 row)
    * broadcasts by construction. */
  def q187AssocRules(spark: SparkSession, dir: String,
      minSupport: Long = 2L, minConfidence: Double = 0.1): DataFrame = {
    // baskets feeds FOUR plan branches (item counts, basket count, both
    // self-join sides) — materialize once (q106's rule) or the lineitem
    // scan + distinct re-execute per reference
    // pinned at session width on the self-join key (q152's device): the
    // AQE-coalesced checkpoint ran the within-basket pair expansion on 5
    // tasks (r19 profile: 5.7 s CPU over 5 of 32 cores)
    val baskets = graft.Lineage.truncate(
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_partkey").distinct()
        .repartition(graft.GraftSession.shufflePartitions(spark),
          $"l_orderkey"),
      eager = false).df
    val itemCounts = baskets.groupBy($"l_partkey")
      .agg(count(lit(1)).as("n_item"))
    val nBaskets = baskets.select($"l_orderkey").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"a.l_partkey" =!= $"b.l_partkey")
      .groupBy($"a.l_partkey".as("antecedent"),
        $"b.l_partkey".as("consequent"))
      .agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= minSupport)
    pairs
      .join(itemCounts.select($"l_partkey".as("antecedent"),
        $"n_item".as("n_a")), Seq("antecedent"))
      .join(itemCounts.select($"l_partkey".as("consequent"),
        $"n_item".as("n_b")), Seq("consequent"))
      .crossJoin(broadcast(nBaskets))
      .withColumn("support",
        $"n_ab".cast("double") / $"n_baskets".cast("double"))
      .withColumn("confidence",
        $"n_ab".cast("double") / $"n_a".cast("double"))
      .withColumn("lift", $"confidence" /
        ($"n_b".cast("double") / $"n_baskets".cast("double")))
      .filter($"confidence" >= minConfidence)
      .select($"antecedent", $"consequent", $"n_ab", $"n_a", $"n_b",
        $"support", $"confidence", $"lift")
  }

  // ---------------------------------------------------------------- A90
  /** A/B experiment readout — Welch's t-test between two deterministic
    * user cohorts on per-user purchase revenue (the "did the treatment
    * move the metric" primitive; Welch because real cohorts never share
    * a variance): assignment is q84's md5-hex threshold (a pure function
    * of user_id — reproducible on any engine, no RNG state), and every
    * statistical input (n, Σx, Σx²) is an EXACT integer in cents, so
    * mean/variance/t are a fixed-order IEEE expression both engines
    * compute bit-identically — no fp accumulation anywhere (q93's rule).
    *
    * Scale: one per-user aggregation (partial-aggregable), then a 2-row
    * group aggregate; the t statistic is computed on the 2-row frame.
    * Σx² of 64-bit cents stays within Long for any realistic per-user
    * total; the DECIMAL(38,0) sum guards the corpus-wide aggregate. */
  def q188AbTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(sum(money($"value") * 100).cast("long").as("cents"))
      .withColumn("grp",
        when(substring(md5(concat(lit("ab:"), $"user_id".cast("string"))),
          1, 1) < "8", "A").otherwise("B"))
    // sums accumulate in DECIMAL(38,0) — a Long Σx² wraps silently at
    // corpus scale (ANSI off) and only THEN would have been cast
    val dec = DecimalType(38, 0)
    val stats = perUser.groupBy($"grp")
      .agg(count(lit(1)).as("n"),
        sum($"cents".cast(dec)).as("s"),
        sum($"cents".cast(dec) * $"cents".cast(dec)).as("ss"))
      .select($"grp", $"n", asDouble($"s").as("s"), asDouble($"ss").as("ss"))
    val a = stats.filter($"grp" === "A")
      .select($"n".as("n_a"), $"s".as("s_a"), $"ss".as("ss_a"))
    val b = stats.filter($"grp" === "B")
      .select($"n".as("n_b"), $"s".as("s_b"), $"ss".as("ss_b"))
    val na = $"n_a".cast("double"); val nb = $"n_b".cast("double")
    val meanA = $"s_a" / na / 100.0
    val meanB = $"s_b" / nb / 100.0
    val varA = ($"ss_a" - $"s_a" * $"s_a" / na) / (na - 1.0) / 10000.0
    val varB = ($"ss_b" - $"s_b" * $"s_b" / nb) / (nb - 1.0) / 10000.0
    a.crossJoin(b) // two 1-row frames
      .withColumn("mean_a", meanA).withColumn("mean_b", meanB)
      .withColumn("t_stat",
        (meanA - meanB) / sqrt(varA / na + varB / nb))
      .withColumn("significant", abs($"t_stat") > 1.96)
      .select($"n_a", $"n_b", $"mean_a", $"mean_b", $"t_stat",
        $"significant")
  }

  // ---------------------------------------------------------------- A91
  /** TPC-H Q17 shape — small-quantity-order revenue: lineitems whose
    * quantity is below 20% of their part's average quantity, summed. The
    * correlated per-part average is ONE aggregation joined back (never a
    * correlated re-scan per row); parts filtered to a brand before
    * anything shuffles.
    *
    * Scale: the per-part averages partial-aggregate; the join back is
    * keyed on partkey (both sides pruned to the brand's parts via the
    * broadcast part dim). avg = ONE IEEE division of the exact decimal
    * sum by the count; the 0.2 multiple and compare are single fp ops. */
  def q190Tpch17(spark: SparkSession, dir: String,
      brand: String = "Brand#1"): DataFrame = {
    val parts = Tables.part(spark, dir).filter($"p_brand" === brand)
      .select($"p_partkey")
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
    val avgQty = li.groupBy($"l_partkey".as("pk"))
      .agg((asDouble(sum(money($"l_quantity"))) / count(lit(1))).as("avg_qty"))
    li.join(avgQty, $"l_partkey" === $"pk")
      .filter($"l_quantity" < $"avg_qty" * 0.2)
      .agg(count(lit(1)).as("n_small"),
        asDouble(sum(money($"l_extendedprice"))).as("small_revenue"))
  }

  // ---------------------------------------------------------------- A92
  /** TPC-H Q18 shape — large-volume orders: orders whose total quantity
    * exceeds `minQty`, with the customer attached and the order's item
    * census. HAVING on a per-order aggregate, then enrichment joins —
    * the aggregate-then-join order matters: filtering to the few large
    * orders BEFORE touching customer keeps the join input tiny.
    *
    * Scale: one orderkey aggregation (partial map-side), the survivors
    * join orders/customer keyed on their ids; quantity sums are integral
    * doubles (exact in fp). */
  def q191Tpch18(spark: SparkSession, dir: String,
      minQty: Double = 150.0): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity").as("total_qty"), count(lit(1)).as("n_items"))
      .filter($"total_qty" > minQty)
    big.join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate",
        $"o_totalprice", $"total_qty", $"n_items")
  }

  // ---------------------------------------------------------------- A93
  /** TPC-H Q22 shape — dormant high-balance customers: customers whose
    * account balance exceeds the average POSITIVE balance and who have
    * placed no RECENT orders (none since `cutoff` — every customer in
    * this corpus has SOME order, so Q22's literal no-orders-ever filter
    * is degenerate here; recency-dormancy keeps the same NOT EXISTS
    * shape non-trivially), grouped by nation. The global scalar (avg
    * positive balance) broadcasts back; dormancy is a left-anti join.
    *
    * Scale: the scalar is a 1-row aggregate (map-side partials); the
    * anti-join shuffles on custkey; the rollup is ≤|nations| groups.
    * Balance sums decimal-exact; the avg and the compare are single
    * IEEE ops. */
  def q192Tpch22(spark: SparkSession, dir: String,
      cutoff: String = "2001-01-01"): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.filter($"c_acctbal" > 0.0)
      .agg((asDouble(sum(money($"c_acctbal"))) / count(lit(1))).as("avg_bal"))
    cust.crossJoin(broadcast(avgBal))
      .filter($"c_acctbal" > $"avg_bal")
      .join(Tables.orders(spark, dir)
        .filter($"o_orderdate" >= lit(cutoff).cast("timestamp"))
        .select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_custs"),
        asDouble(sum(money($"c_acctbal"))).as("total_bal"))
  }

  // ---------------------------------------------------------------- A94
  /** Seasonal-naive forecast evaluation (the baseline every real
    * forecasting effort must beat, and the everyday anomaly yardstick:
    * predict each (type, week-hour) bucket's event count with the SAME
    * bucket one week earlier, report per-type MAE and bias): bucket
    * counts are exact integers from integer epoch arithmetic (q145's
    * rule — no engine calendar); the week-shift join is a self-join of
    * the AGGREGATED bucket frame (dimension×weeks-sized, not corpus-
    * sized); MAE/bias are single IEEE divisions of exact integer sums.
    * Only buckets with BOTH a forecast and an actual score — the first
    * week predicts nothing and is not charged.
    *
    * Scale: corpus-sized work is ONE partial-agged (type, hour-bucket)
    * count; everything after runs on the aggregated frame. */
  def q194SeasonalNaive(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val weekHours = 168L
    // integer `div`, not fp `/`+cast: a quotient landing within one ulp
    // of an integer would round UP in fp and bucket the event an hour off
    // materialized once: both the actual and the week-shifted forecast
    // branch read this aggregate (one corpus scan, not two)
    val buckets = graft.Lineage.truncate(
      Tables.events(spark, dir)
        .select($"event_type",
          expr(s"unix_micros(cast(ts as timestamp)) div ${hourUs}L").as("h"))
        .groupBy($"event_type", $"h").agg(count(lit(1)).as("n")),
      eager = false).df
    val actual = buckets.select($"event_type", $"h", $"n".as("actual"))
    val forecast = buckets.select($"event_type",
      ($"h" + weekHours).as("h"), $"n".as("forecast"))
    actual.join(forecast, Seq("event_type", "h"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_buckets"),
        sum(abs($"actual" - $"forecast")).as("abs_err"),
        sum($"actual" - $"forecast").as("bias_sum"))
      .select($"event_type", $"n_buckets",
        ($"abs_err".cast("double") / $"n_buckets".cast("double")).as("mae"),
        ($"bias_sum".cast("double") / $"n_buckets".cast("double")).as("bias"))
  }

  // ---------------------------------------------------------------- A95
  /** CUSUM changepoint detection on weekly event volume (the classic
    * "when did the level shift" monitor — q163's chi² asks whether two
    * ADJACENT weeks differ; CUSUM accumulates small sustained drifts a
    * pairwise test never sees): per type, C_t = max(0, C_{t−1} + (x_t −
    * μ)), flagged when the accumulated excess passes half a mean week.
    * ALL-INTEGER: deviations are scaled by n (δ = n·x − Σx, mean-free
    * without division), and the nonlinear recurrence is computed by
    * q153's max-plus identity — C = P − min(0, running-min P) — as two
    * ordinary window passes, so the exact oracle needs no recursion and
    * no fp enters until never (the flag compares 2·C > Σx in integers).
    *
    * Scale: corpus-sized work is ONE (type, week) partial-agged count;
    * both windows run per type over the ≤|weeks| aggregated frame
    * (q150's rule). */
  def q196CusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val weekly = graft.Lineage.truncate(
      Tables.events(spark, dir)
        .select($"event_type",
          expr("unix_micros(cast(ts as timestamp)) div 604800000000L")
            .as("week"))
        .groupBy($"event_type", $"week").agg(count(lit(1)).as("x")),
      eager = false).df
    val stats = weekly.groupBy($"event_type")
      .agg(count(lit(1)).as("n_weeks"), sum($"x").as("s_total"))
    val w = Window.partitionBy($"event_type").orderBy($"week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly.join(broadcast(stats), Seq("event_type"))
      .withColumn("delta", $"n_weeks" * $"x" - $"s_total")
      .withColumn("p", sum($"delta").over(w))
      .withColumn("pmin", min($"p").over(w))
      .withColumn("cusum", $"p" - least($"pmin", lit(0L)))
      .withColumn("flagged", $"cusum" * 2 > $"s_total")
      .select($"event_type", $"week", $"x", $"cusum", $"flagged")
  }

  // ---------------------------------------------------------------- A96
  /** Winsorized robust statistics per event type (clip to [p05, p95]
    * before averaging — the standard outlier-robust preprocessing before
    * any mean-based downstream stat; q144's MAD DETECTS outliers, this
    * NEUTRALIZES them): two exact DISCRETE percentile bounds broadcast
    * back, then ONE aggregation pass counting the clipped tails and
    * summing inliers. The bounds are `percentile_disc` — an ACTUAL data
    * value, not an interpolation — deliberately: an interpolated bound
    * is an fp expression whose last ulp differs across engines
    * (Spark's `lower+(hi-lo)·frac` vs DuckDB's convex form), and when
    * the cut lands inside a TIE BLOCK that ulp flips the whole block's
    * tail counts (the sf1.0 sweep measured exactly this: lo 2.52 vs
    * 2.5200000000000005, a 50-row tie, n_lo off by 50). A discrete
    * bound is bit-identical everywhere and tie-robust at every scale;
    * clipping to an observed value is standard winsorization. The winsorized
    * mean is assembled as `(Σ_inlier + n_lo·lo + n_hi·hi) / n` — the
    * inlier sum is DECIMAL-exact and the tails contribute as two exact
    * products, so the whole mean is ONE fixed-order fp expression; a
    * naive `avg(clip(v))` would sum engine-ordered doubles (q93's rule).
    *
    * Scale: the percentile pass is per-group exact (swap q174's GK
    * sketch past memory limits, same shape); bounds are a ≤|types|-row
    * broadcast; the stats pass is one partial-agged aggregation. */
  def q197Winsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select($"event_type", $"value")
    val bounds = ev.groupBy($"event_type")
      .agg(expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)")
        .as("lo"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)")
        .as("hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        max($"lo").as("lo"), max($"hi").as("hi"), // constant per group
        sum(when($"value" < $"lo", 1L).otherwise(0L)).as("n_lo"),
        sum(when($"value" > $"hi", 1L).otherwise(0L)).as("n_hi"),
        asDouble(sum(when($"value" >= $"lo" && $"value" <= $"hi",
          money($"value")))).as("inlier_sum"))
      .withColumn("winsorized_mean",
        (coalesce($"inlier_sum", lit(0.0))
          + $"n_lo".cast("double") * $"lo"
          + $"n_hi".cast("double") * $"hi") / $"n".cast("double"))
      .select($"event_type", $"n", $"lo", $"hi", $"n_lo", $"n_hi",
        $"winsorized_mean")
  }

  // ---------------------------------------------------------------- A97
  /** Share-of-parent drilldown (the BI staple q18's ROLLUP totals can't
    * express — each nation's revenue as a share of ITS REGION, and each
    * region's as a share of the corpus): one fact aggregation to the
    * finest grain, then parent totals from window sums over the
    * AGGREGATED ≤|nations| frame (q116's rule) — the fact table is
    * touched once, not once per grain. Revenue decimal-exact; each share
    * ONE IEEE division.
    *
    * Scale: one custkey-joined orders aggregation partial-aggregates to
    * |nations| rows; everything hierarchical happens on that frame. */
  def q201ShareOfParent(spark: SparkSession, dir: String): DataFrame = {
    val perNation = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(sum(money($"o_totalprice")).as("rev_dec"))
    val wRegion = Window.partitionBy($"r_name")
    val wAll = Window.partitionBy()
    // both windows run over the ≤|nations| aggregated frame
    perNation
      .withColumn("region_dec", sum($"rev_dec").over(wRegion))
      .withColumn("total_dec", sum($"rev_dec").over(wAll))
      .select($"r_name", $"n_name",
        asDouble($"rev_dec").as("nation_rev"),
        asDouble($"region_dec").as("region_rev"),
        (asDouble($"rev_dec") / asDouble($"region_dec"))
          .as("share_of_region"),
        (asDouble($"region_dec") / asDouble($"total_dec"))
          .as("region_share_of_total"))
  }

  // ---------------------------------------------------------------- A98
  /** k-anonymity risk report over the event stream (the privacy audit a
    * release pipeline runs AFTER q65's PII scrub — scrubbing direct
    * identifiers does not stop re-identification through QUASI-
    * identifier combinations): per (event_type, day, value-band)
    * equivalence class, how many classes and rows fall below the
    * anonymity threshold `k`, overall and per type. Bands are integer
    * arithmetic (q145's calendar rule, value to the nearest 10) so class
    * membership is engine-exact.
    *
    * Scale: ONE partial-agged class count (classes bounded by the QI
    * domain, not the row count), then a ≤|types|-group rollup; at-risk
    * share is ONE IEEE division of exact counts. */
  def q204KAnonRisk(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val classes = Tables.events(spark, dir)
      .select($"event_type",
        expr("unix_micros(cast(ts as timestamp)) div 86400000000L").as("day"),
        // exact integer band: cents div 1000 (a decimal/10 + cast would
        // TRUNCATE in Spark but ROUND in DuckDB)
        expr("cast(cast(value as decimal(14,2)) * 100 as bigint) div 1000")
          .as("value_band"))
      .groupBy($"event_type", $"day", $"value_band")
      .agg(count(lit(1)).as("n"))
    classes.groupBy($"event_type")
      .agg(count(lit(1)).as("n_classes"),
        sum(when($"n" < k, lit(1L)).otherwise(0L)).as("n_risky_classes"),
        sum($"n").as("n_rows"),
        sum(when($"n" < k, $"n").otherwise(0L)).as("n_rows_at_risk"))
      .withColumn("risk_share",
        $"n_rows_at_risk".cast("double") / $"n_rows".cast("double"))
  }

  // ---------------------------------------------------------------- A99
  /** Session outcome report — per week: sessions, conversion rate
    * (session contained a purchase), bounce rate (single-event session).
    * q89 says WHERE sessions are; this says what they were WORTH — the
    * e-commerce/product headline metric pair, computed on q89's exact
    * session boundaries (30-min gap) so the two reports can never
    * disagree about what a session is. A session belongs to the week of
    * its FIRST event (integer epoch weeks, q145's rule).
    *
    * Scale: one user_id exchange + per-user sort shared by the gap
    * window and the session rollup (same keys); the week rollup is
    * ≤|weeks| groups; rates are single IEEE divisions of exact counts. */
  def q205SessionOutcomes(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val e = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("us"))
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val sessions = e
      .withColumn("__new",
        when(lag($"us", 1).over(byUser).isNull
          || $"us" - lag($"us", 1).over(byUser) > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum($"__new")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_seq")
      .agg(min($"us").as("start_us"), count(lit(1)).as("n_events"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("converted"))
    sessions
      .withColumn("week", expr("start_us div 604800000000L"))
      .groupBy($"week")
      .agg(count(lit(1)).as("n_sessions"),
        sum($"converted").as("n_converted"),
        sum(when($"n_events" === 1, 1L).otherwise(0L)).as("n_bounced"))
      .select($"week", $"n_sessions", $"n_converted", $"n_bounced",
        ($"n_converted".cast("double") / $"n_sessions".cast("double"))
          .as("conversion_rate"),
        ($"n_bounced".cast("double") / $"n_sessions".cast("double"))
          .as("bounce_rate"))
  }

  // ---------------------------------------------------------------- A100
  /** TPC-H Q7 shape — volume shipping between two trading nations: revenue
    * of lineitems whose SUPPLIER sits in one nation and whose CUSTOMER in
    * the other (both directions), by shipping year.
    *
    * Scale: the two fact joins (orders, then lineitem) shuffle on their
    * keys; supplier/customer pre-FILTER to the two nations before joining
    * (the nation predicate lands on the dimension scan, so the fact rows
    * of 23/25 nations never shuffle); nation broadcasts. The asymmetric
    * pair filter runs post-join on two ints. Revenue sums in exact
    * DECIMAL. */
  def q207Tpch7(spark: SparkSession, dir: String,
      nationA: String = "NATION_3", nationB: String = "NATION_7"): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val revenue = money($"l_extendedprice") * (one - rate($"l_discount"))
    val n = Tables.nation(spark, dir)
      .filter($"n_name".isin(nationA, nationB))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(supp, $"l_suppkey" === $"s_suppkey")
      .filter($"supp_nation" =!= $"cust_nation")
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("l_year"))
      .agg(asDouble(sum(revenue)).as("revenue"), count(lit(1)).as("cnt"))
  }

  // ---------------------------------------------------------------- A101
  /** TPC-H Q10 shape — returned-item revenue report: the top 20 customers
    * by revenue lost to returns (l_returnflag = 'R') in a quarter window,
    * with their nation.
    *
    * Scale: the returnflag + date predicates push into the lineitem scan
    * (the dominant input shrinks before any join); customer joins by key,
    * nation broadcasts; top-20 is orderBy+limit = TakeOrdered (k rows per
    * partition, never a global sort), rank stamped AFTER the take over 20
    * rows (q119's rule). */
  def q208Tpch10(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val revenue = money($"l_extendedprice") * (one - rate($"l_discount"))
    val lost = Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === "R" &&
        $"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-07-01").cast("timestamp"))
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(asDouble(sum(revenue)).as("revenue"), count(lit(1)).as("n_items"))
    val top = lost
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name", $"revenue", $"n_items")
      .orderBy($"revenue".desc, $"c_custkey".asc)
      .limit(k)
    top.withColumn("rk", row_number().over(
        Window.orderBy($"revenue".desc, $"c_custkey".asc)).cast("long"))
      .select($"rk", $"c_custkey", $"c_name", $"n_name", $"revenue",
        $"n_items")
  }

  // ---------------------------------------------------------------- A102
  /** TPC-H Q19 shape — disjunctive pushdown: revenue from three OR-ed
    * (brand, size-range, quantity-range) branches. The optimizer test the
    * original query exists for: the OR of ANDs must still prune — Catalyst
    * extracts the common `p_partkey = l_partkey` join key, pushes the
    * part-only disjunction (brand/size) into the part scan and the
    * quantity bounds into the lineitem scan (the OR's per-side envelope),
    * and evaluates the full disjunction post-join. Part broadcasts as the
    * dim side; revenue in exact DECIMAL. */
  def q209DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val revenue = money($"l_extendedprice") * (one - rate($"l_discount"))
    val branch1 = $"p_brand" === "Brand#1" &&
      $"p_size".between(1, 15) && $"l_quantity".between(1, 15)
    val branch2 = $"p_brand" === "Brand#2" &&
      $"p_size".between(10, 30) && $"l_quantity".between(10, 25)
    val branch3 = $"p_brand" === "Brand#3" &&
      $"p_size".between(25, 50) && $"l_quantity".between(20, 35)
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), $"l_partkey" === $"p_partkey")
      .filter(branch1 || branch2 || branch3)
      .groupBy($"p_brand")
      .agg(asDouble(sum(revenue)).as("revenue"), count(lit(1)).as("cnt"))
  }

  // ---------------------------------------------------------------- A103
  /** Gini coefficient of customer revenue concentration — the standard
    * inequality index over "how skewed is our revenue base" (the
    * single-number complement of q140's HHI and q167's share table):
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over revenues sorted ascending.
    *
    * Exactness: revenues aggregate in DECIMAL; the sorted index i comes
    * from [[Rank.globalRowNumber]] (range exchange, never a single-task
    * window) with custkey tie-break, so Σ i·xᵢ is an exact DECIMAL·LONG
    * fold and G is ONE IEEE expression of exact terms — bit-identical
    * cross-engine. Output: one row (n, total, gini). */
  def q211Gini(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(money($"o_totalprice")).as("rev"))
    val ranked = Rank.globalRowNumber(rev,
      Seq($"rev".asc, $"o_custkey".asc), rnCol = "i")
    ranked.agg(
        count(lit(1)).as("n"),
        sum($"rev").as("total"),
        sum($"rev" * $"i").as("weighted"))
      .select($"n",
        asDouble($"total").as("total_revenue"),
        (lit(2.0) * asDouble($"weighted")
          / ($"n".cast("double") * asDouble($"total"))
          - ($"n" + 1).cast("double") / $"n".cast("double")).as("gini"))
  }

  // ---------------------------------------------------------------- A104
  /** Mann-Whitney U test between two market segments on order value — the
    * rank-based (distribution-free) A/B complement of q188's Welch t:
    * robust to the heavy-tailed revenue distributions where mean tests
    * mislead. DETERMINISTIC VARIANT: ranks are row_numbers with orderkey
    * tie-break (not midranks), so every quantity is an exact integer —
    * the standard tie-broken U, bit-identical cross-engine (midranks
    * would need a ties correction whose fp fold is order-dependent).
    *
    * Scale: one global rank over the two segments' orders
    * ([[Rank.globalRowNumber]] — range exchange), one two-group
    * aggregation; U/μ/σ/z are exact-integer expressions with one sqrt. */
  def q212MannWhitney(spark: SparkSession, dir: String,
      segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    val seg = Tables.customer(spark, dir)
      .filter($"c_mktsegment".isin(segA, segB))
      .select($"c_custkey", $"c_mktsegment".as("seg"))
    val orders = Tables.orders(spark, dir)
      .join(seg, $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"seg", money($"o_totalprice").as("v"))
    val ranked = Rank.globalRowNumber(orders,
      Seq($"v".asc, $"o_orderkey".asc), rnCol = "r")
    ranked.groupBy($"seg")
      .agg(count(lit(1)).as("n"), sum($"r").as("rank_sum"))
      .groupBy()
      .agg(
        max(when($"seg" === segA, $"n")).as("n_a"),
        max(when($"seg" === segB, $"n")).as("n_b"),
        max(when($"seg" === segA, $"rank_sum")).as("rank_sum_a"))
      .select($"n_a", $"n_b",
        ($"rank_sum_a" - expr("(n_a * (n_a + 1)) div 2")).as("u"),
        (($"n_a" * $"n_b").cast("double") / 2.0).as("mu"),
        sqrt(($"n_a" * $"n_b" * ($"n_a" + $"n_b" + 1)).cast("double") / 12.0)
          .as("sigma"))
      .withColumn("z", ($"u".cast("double") - $"mu") / $"sigma")
  }

  // ---------------------------------------------------------------- A105
  /** Benford first-digit audit over order values — the classic synthetic /
    * fabricated-amounts screen: the distribution of the first significant
    * digit of the integer-cents amount vs Benford's log₁₀(1+1/d)
    * expectation, with per-digit χ² contributions.
    *
    * Exactness: cents are a DECIMAL·100 → long (never fp rounding); the
    * first digit comes from the bigint's decimal STRING — integer
    * formatting is engine-identical, where log10-of-double near powers of
    * ten is not. Benford expectations are 9 shared double literals, so
    * every output is an exact count or one IEEE expression of them. 9
    * groups — dimension-bounded aggregation. */
  def q213Benford(spark: SparkSession, dir: String): DataFrame = {
    val benford = Seq(
      0.30102999566398120, 0.17609125905568124, 0.12493873660829993,
      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
      0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
    val expected = element_at(array(benford.map(lit): _*), $"digit")
    val digits = Tables.orders(spark, dir)
      .select((money($"o_totalprice") * 100).cast("long").as("cents"))
      // Benford is defined on positive magnitudes; a zero amount would
      // yield digit 0 and crash element_at (1-based), a negative one a
      // '-' first char — exclude them HERE, identically to the oracle,
      // instead of diverging on dirty data (zero crashes vs the oracle's
      // silent inner-join drop)
      .filter($"cents" > 0)
      .select(substring($"cents".cast("string"), 1, 1).cast("int").as("digit"))
    val counts = digits.groupBy($"digit")
      .agg(count(lit(1)).as("cnt"))
    val total = Window.partitionBy() // 9-row frame — bounded
    counts
      .withColumn("n", sum($"cnt").over(total))
      .select($"digit", $"cnt",
        ($"cnt".cast("double") / $"n".cast("double")).as("share"),
        expected.as("benford"),
        (($"cnt".cast("double") - $"n".cast("double") * expected)
          * ($"cnt".cast("double") - $"n".cast("double") * expected)
          / ($"n".cast("double") * expected)).as("chi2_term"))
  }

  // ---------------------------------------------------------------- A106
  /** Lag-k autocorrelation of daily event volume (k = 1..7) — the
    * weekly-rhythm diagnostic under q145's seasonality profile: Pearson r
    * between the daily-count series and itself shifted k days, one row
    * per lag.
    *
    * Exactness: the series is integer counts per epoch-day, so every
    * Pearson sum (Σx, Σy, Σxy, Σx², Σy²) is an exact bigint over the
    * lag-joined pairs and r is one IEEE expression per lag. Scale: the
    * event scan aggregates to ≤|days| rows; the lag join and the 7-lag
    * explode run on that dimension-bounded frame. */
  def q214Acf(spark: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    // the daily aggregate feeds BOTH sides of the lag self-join —
    // materialize the ≤|days| frame once (q106's rule)
    val days = graft.Lineage.truncate(
      Tables.events(spark, dir)
        // integer div, not fp-divide-then-cast: a double quotient one ulp
        // above the true value would round a boundary event a day over
        .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000L")
          .as("day"))
        .groupBy($"day").agg(count(lit(1)).as("x")), eager = false).df
    val lagged = days
      .withColumn("lag",
        explode(array((1 to maxLag).map(i => lit(i.toLong)): _*)))
      .select($"day", $"lag", $"x")
      .join(days.select($"day".as("__d2"), $"x".as("y")),
        $"day" + $"lag" === $"__d2")
    lagged.groupBy($"lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
      .select($"lag", $"n_pairs",
        (($"n_pairs" * $"sxy" - $"sx" * $"sy").cast("double")
          / (sqrt(($"n_pairs" * $"sxx" - $"sx" * $"sx").cast("double"))
            * sqrt(($"n_pairs" * $"syy" - $"sy" * $"sy").cast("double"))))
          .as("acf"))
  }

  // ---------------------------------------------------------------- A107
  /** TPC-H Q9 shape — supplier-nation profit by year (adapted to this
    * schema's columns: revenue net of discount, no partsupp cost table).
    * Scale: lineitem joins supplier by key (supplier is dimension-scaled
    * but corpus-derived — unforced, stats decide), nation broadcasts;
    * group domain = \|nations\|·\|years\|. DECIMAL-exact. */
  def q218Tpch9Profit(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val profit = money($"l_extendedprice") * (one - rate($"l_discount"))
    Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(spark, dir)),
        $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"l_shipdate").cast("long").as("o_year"))
      .agg(asDouble(sum(profit)).as("profit"), count(lit(1)).as("cnt"))
  }

  // ---------------------------------------------------------------- A108
  /** Whale-concentration brackets — the share of total revenue held by
    * the top 1%/5%/10%/25% of customers (the cumulative complement of
    * q211's single-number Gini): per bracket, member count and exact
    * revenue share.
    *
    * Exactness: customers rank by (revenue desc, custkey) through
    * [[Rank.globalRowNumberAndTotal]] (range exchange + one count pass —
    * never a single-task window); bracket membership is the integer test
    * `100·rank ≤ pct·n` (no fp ceil); revenue sums in DECIMAL per
    * bracket×4 via one explode of the ranked frame; shares are single
    * IEEE divisions. */
  def q219WhaleShare(spark: SparkSession, dir: String,
      brackets: Seq[Int] = Seq(1, 5, 10, 25)): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(money($"o_totalprice")).as("rev"))
    val (ranked, n) = Rank.globalRowNumberAndTotal(rev,
      Seq($"rev".desc, $"o_custkey".asc), rnCol = "r")
    val total = ranked.agg(sum($"rev")).head().getDecimal(0)
    ranked
      .withColumn("pct", explode(array(brackets.map(lit): _*)))
      .filter($"r" * 100 <= $"pct" * n)
      .groupBy($"pct")
      .agg(count(lit(1)).as("n_customers"), sum($"rev").as("bracket_rev"))
      .select($"pct", $"n_customers",
        asDouble($"bracket_rev").as("bracket_revenue"),
        (asDouble($"bracket_rev") / lit(total.doubleValue())).as("share"))
  }

  // ---------------------------------------------------------------- A109
  /** Wilson-score lower bound on per-user conversion rate — the
    * small-sample-honest ranking (a 1/1 user must NOT outrank a 95/100
    * user, which raw p̂ ranking does): the standard "sort by lower
    * confidence bound" correction, z = 1.96 shared literal.
    *
    * Exactness: n and conversions are exact counts; the bound is ONE
    * fixed-association IEEE expression of them (sqrt is exact), so both
    * engines produce bit-identical doubles. Scale: one partial-agged
    * groupBy over events; the rank is [[Rank.globalRowNumber]]'s range
    * exchange, never a single-task window. */
  def q222WilsonRank(spark: SparkSession, dir: String,
      minEvents: Long = 5L): DataFrame = {
    val z = 1.959963984540054 // Φ⁻¹(0.975), shared with the oracle
    val counts = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("conversions"))
      .filter($"n" >= minEvents)
    val nD = $"n".cast("double")
    val p = $"conversions".cast("double") / nD
    val z2 = lit(z * z)
    val lb = (p + z2 / (lit(2.0) * nD) -
      lit(z) * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * nD)) / nD)) /
      (lit(1.0) + z2 / nD)
    val scored = counts.select($"user_id", $"n", $"conversions",
      p.as("p_hat"), lb.as("wilson_lb"))
    Rank.globalRowNumber(scored,
      Seq($"wilson_lb".desc, $"user_id".asc), rnCol = "rk")
      .select($"rk", $"user_id", $"n", $"conversions", $"p_hat", $"wilson_lb")
  }

  // ---------------------------------------------------------------- A110
  /** Cohort LTV matrix — cumulative purchase value by (signup-week cohort
    * × weeks-since-signup age): the revenue complement of q83's retention
    * counts, and the table every growth model is fit on. A user's cohort
    * is their FIRST event's integer epoch week; purchase value accrues to
    * the integer age week it lands in; the running LTV per cohort is a
    * cumulative window over the ≤\|cohorts×ages\| aggregated frame.
    *
    * Exactness: value sums in DECIMAL; weeks are integer `div`s of
    * epoch-µs; ltv_per_user is ONE IEEE division of the decimal-exact
    * cumulative by the cohort's exact user count. Scale: one user_id
    * shuffle for first-event, one (cohort, age) aggregation, windows on
    * the dimension-bounded frame. */
  def q224CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_type", money($"value").as("v"),
        expr("unix_micros(cast(ts as timestamp))").as("us"))
    val first = e.groupBy($"user_id").agg(min($"us").as("s0"))
    val sized = first
      .select(expr("s0 div 604800000000L").as("cohort_week"), $"user_id")
    val cohortSizes = sized.groupBy($"cohort_week")
      .agg(count(lit(1)).as("n_users"))
    val cells = e.join(first, Seq("user_id"))
      .filter($"event_type" === "purchase")
      .select(expr("s0 div 604800000000L").as("cohort_week"),
        expr("(us - s0) div 604800000000L").as("age_weeks"), $"v")
      .groupBy($"cohort_week", $"age_weeks")
      .agg(sum($"v").as("week_value"), count(lit(1)).as("n_purchases"))
    val wCum = Window.partitionBy($"cohort_week").orderBy($"age_weeks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_value", sum($"week_value").over(wCum))
      .join(cohortSizes, Seq("cohort_week"))
      .select($"cohort_week", $"age_weeks", $"n_users", $"n_purchases",
        asDouble($"week_value").as("week_value"),
        asDouble($"cum_value").as("cum_ltv"),
        (asDouble($"cum_value") / $"n_users".cast("double"))
          .as("ltv_per_user"))
  }

  // ---------------------------------------------------------------- A111
  /** Order-to-ship lag distribution — days from order date to the order's
    * FIRST shipment, as an exact integer-day histogram (the fulfilment
    * SLA report): per-order min shipdate pre-aggregates BEFORE the orders
    * join (one row per order into the join — q5's rule), lag in whole
    * days by integer µs `div`, histogram a ≤\|lags\| aggregation.
    * NEGATIVE lags (ship before order — present in this synthetic data)
    * surface as their own histogram rows, a data-quality signal the
    * report must show rather than clamp; both timestamps are
    * date-granular, so the µs difference is an exact day multiple and
    * truncating `div` equals floor — cross-engine safe even negative. */
  def q225ShipLag(spark: SparkSession, dir: String): DataFrame = {
    val firstShip = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(min(expr("unix_micros(cast(l_shipdate as timestamp))"))
        .as("ship_us"))
    val lags = Tables.orders(spark, dir)
      .select($"o_orderkey",
        expr("unix_micros(cast(o_orderdate as timestamp))").as("ord_us"))
      .join(firstShip, $"o_orderkey" === $"l_orderkey")
      .select(expr("(ship_us - ord_us) div 86400000000L").as("lag_days"))
    val whole = Window.partitionBy() // ≤|distinct lags| rows — bounded
    lags.groupBy($"lag_days")
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("share",
        $"n_orders".cast("double") / sum($"n_orders").over(whole).cast("double"))
  }

  // ---------------------------------------------------------------- A112
  /** TPC-H Q6 — the forecast-revenue-change query: one banded filter
    * (year × discount band × quantity cap) and one DECIMAL product sum.
    * The POINT is the plan: every predicate must reach the parquet scan
    * (PushedFilters on shipdate/discount/quantity) and the aggregation is
    * a map-side partial over the surviving rows — zero joins, zero
    * shuffles beyond the 1-row final agg (plan-spec asserted). */
  def q226Tpch6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp") &&
        $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
      .agg(asDouble(sum(money($"l_extendedprice") * rate($"l_discount")))
        .as("revenue"), count(lit(1)).as("cnt"))

  // ---------------------------------------------------------------- A113
  /** TPC-H Q15 shape — top supplier(s) by period revenue: the "view +
    * scalar max" query. ALL suppliers achieving the maximum are returned
    * (the tie semantics that make this different from a top-1 rank).
    *
    * Scale: the revenue "view" pre-aggregates lineitem to one row per
    * supplier BEFORE anything else; the scalar max of that ≤\|suppliers\|
    * frame broadcasts back as a 1-row cross join (q87's argmax shape) and
    * the supplier dim joins by key. Ties survive exactly; DECIMAL compare
    * (fp revenue equality would be a correctness bug). */
  def q227Tpch15(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val revenue = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(money($"l_extendedprice") * (one - rate($"l_discount")))
        .as("total_revenue"))
    val maxRev = revenue.agg(max($"total_revenue").as("__max"))
    revenue
      .join(broadcast(maxRev), $"total_revenue" === $"__max")
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name",
        asDouble($"total_revenue").as("total_revenue"))
  }

  // ---------------------------------------------------------------- A114
  /** TPC-H Q13 — customer order-count distribution INCLUDING the
    * zero-order customers (the LEFT join the benchmark exists to test: an
    * inner count silently drops exactly the customers a churn analysis is
    * about): count per customer via a pre-aggregated left join, then a
    * ≤\|distinct counts\| histogram. */
  def q230Tpch13(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("c_count"))
    Tables.customer(spark, dir)
      .join(perCust, $"c_custkey" === $"o_custkey", "left")
      .select(coalesce($"c_count", lit(0L)).as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  // ---------------------------------------------------------------- A115
  /** TPC-H Q16 shape (adapted: supplier diversity from lineitem, no
    * partsupp) — distinct suppliers serving each (brand, size-band): a
    * sourcing-concentration report where COUNT(DISTINCT) is the point
    * (two-phase Expand distinct, partial-aggregable). Part broadcasts as
    * the dim side; band arithmetic integer. */
  def q231SupplierDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", expr("(p_size - 1) div 10").as("size_band"))
      .agg(countDistinct($"l_suppkey").as("n_suppliers"),
        count(lit(1)).as("n_lineitems"))

  // ---------------------------------------------------------------- A116
  /** Cohort retention matrix — DISTINCT active users per (signup-week ×
    * age-week) and the retention share of the cohort (the count complement
    * of A110's LTV values; q83's week-over-week retention generalized to
    * the full triangle): activity at any event type counts, share one
    * IEEE division of exact counts. */
  def q232RetentionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select($"user_id", expr("unix_micros(cast(ts as timestamp))").as("us"))
    val first = e.groupBy($"user_id").agg(min($"us").as("s0"))
    val sized = first.groupBy(expr("s0 div 604800000000L").as("cohort_week"))
      .agg(count(lit(1)).as("n_users"))
    e.join(first, Seq("user_id"))
      .select(expr("s0 div 604800000000L").as("cohort_week"),
        expr("(us - s0) div 604800000000L").as("age_weeks"), $"user_id")
      .groupBy($"cohort_week", $"age_weeks")
      .agg(countDistinct($"user_id").as("n_active"))
      .join(sized, Seq("cohort_week"))
      .select($"cohort_week", $"age_weeks", $"n_users", $"n_active",
        ($"n_active".cast("double") / $"n_users".cast("double"))
          .as("retention"))
  }

  // ---------------------------------------------------------------- A117
  /** TPC-H Q14 — promotion revenue share by ship month: the conditional
    * aggregate ratio (promo revenue / total revenue) computed in ONE pass
    * — the case-inside-sum idiom, never two scans joined. Both sums are
    * DECIMAL-exact; the share is one IEEE division per month; part
    * broadcasts as the dim side. */
  def q233Tpch14(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val revenue = money($"l_extendedprice") * (one - rate($"l_discount"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), $"l_partkey" === $"p_partkey")
      .groupBy(date_trunc("month", $"l_shipdate").cast(TimestampNTZType)
        .as("ship_month"))
      .agg(
        asDouble(sum(when($"p_type" === "PROMO", revenue)
          .otherwise(lit(0).cast(DecimalType(14, 2))))).as("promo_revenue"),
        asDouble(sum(revenue)).as("total_revenue"))
      .withColumn("promo_share",
        lit(100.0) * $"promo_revenue" / $"total_revenue")
  }

  // ---------------------------------------------------------------- A118
  /** Burstiness (Fano factor) of daily volume per event type — the
    * over-dispersion diagnostic (Fano ≈ 1 = Poisson-like arrivals; ≫ 1 =
    * bursty/incident-driven; the dispersion complement of A106's ACF):
    * sample variance over mean of the per-day counts, OBSERVED days only
    * (a zero-filled calendar would need an external range — documented).
    *
    * Exactness: counts and both moment sums are exact bigints over the
    * ≤\|types×days\| aggregate; variance/mean/Fano are one fixed
    * expression of them (q93's moment discipline). */
  def q236Burstiness(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select($"event_type",
        expr("unix_micros(cast(ts as timestamp)) div 86400000000L").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("x"))
    daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"))
      .filter($"n_days" >= 2)
      .select($"event_type", $"n_days", $"sx".as("n_events"),
        ($"sx".cast("double") / $"n_days".cast("double")).as("mean_daily"),
        (($"n_days" * $"sxx" - $"sx" * $"sx").cast("double")
          / ($"n_days" * ($"n_days" - 1)).cast("double")).as("var_daily"))
      .withColumn("fano", $"var_daily" / $"mean_daily")
  }

  // ---------------------------------------------------------------- A119
  /** Exact inter-event gap percentiles per event type — the SLA numbers
    * (p50/p90/p99 seconds between a user's consecutive events) under
    * A87/q178's banded profile: the same lag window feeds `percentile`
    * over exact integer µs gaps (q24's interpolation-parity discipline —
    * integral inputs, both engines interpolate identically). */
  def q237GapPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("us"))
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    ev.withColumn("gap_us", $"us" - lag($"us", 1).over(w))
      .filter($"gap_us".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_gaps"),
        expr("percentile(gap_us, 0.5)").as("p50_us"),
        expr("percentile(gap_us, 0.9)").as("p90_us"),
        expr("percentile(gap_us, 0.99)").as("p99_us"))
  }

  // ---------------------------------------------------------------- A120
  /** ABC classification of parts by cumulative revenue share — the
    * inventory-management standard (A ≈ first 80% of revenue, B to 95%,
    * C the tail), the per-item classification under A108's bracket
    * totals: every part gets its revenue, cumulative share, and class.
    *
    * Exactness: revenue in integer CENTS through the prefix machinery
    * ([[Rank.prefixSumAndTotal]] casts its value to long — a DECIMAL
    * would truncate silently at that seam, cents don't); class
    * boundaries are INTEGER tests (5·cum ≤ 4·total, 20·cum ≤ 19·total);
    * shares/revenue single IEEE divisions at the end. */
  def q238AbcClass(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey")
      .agg((sum(money($"l_extendedprice")) * 100).cast("long").as("cents"))
    val (cum, total) = Rank.prefixSumAndTotal(rev,
      Seq($"cents".desc, $"l_partkey".asc), $"cents", "cum_cents")
    cum.select($"l_partkey",
        ($"cents".cast("double") / 100.0).as("revenue"),
        ($"cum_cents".cast("double") / lit(total.toDouble)).as("cum_share"),
        when($"cum_cents" * 5 <= lit(total) * 4, "A")
          .when($"cum_cents" * 20 <= lit(total) * 19, "B")
          .otherwise("C").as("abc_class"))
  }

  // ---------------------------------------------------------------- A121
  /** First-touch vs last-touch attribution, side by side — the comparison
    * marketing actually argues about (A85/q169 ships last-touch alone;
    * the delta between models IS the report). Both models share ONE
    * purchase×touch interval join (q90's shape: user-keyed shuffle, band
    * predicate inside), and the earliest/latest touch inside each
    * purchase's window come from min/max over a SINGLE sortable key —
    * zero-padded `us ‖ event_id` with the channel embedded as suffix, so
    * ASCII order equals numeric order and both engines pick identical
    * touches with no struct-aggregate dependence. Touchless purchases
    * attribute to 'direct' in both models. Revenue DECIMAL-exact. */
  def q240AttributionCompare(spark: SparkSession, dir: String,
      windowDays: Int = 7): DataFrame = {
    val winUs = windowDays.toLong * 86400000000L
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", money($"value").as("v"),
        unix_micros($"ts".cast("timestamp")).as("us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"), $"us".as("p_us"), $"v")
    val touches = ev.filter($"event_type".isin("click", "view"))
      .select($"user_id", $"us".as("t_us"),
        concat(lpad($"us".cast("string"), 20, "0"),
          lpad($"event_id".cast("string"), 10, "0"),
          $"event_type").as("ordkey"))
    val windows = purchases
      .join(touches, Seq("user_id"))
      .filter($"t_us" >= $"p_us" - winUs && $"t_us" < $"p_us")
      .groupBy($"user_id", $"p_id")
      .agg(min($"ordkey").as("fk"), max($"ordkey").as("lk"))
    val attributed = purchases
      .join(windows, Seq("user_id", "p_id"), "left")
      .select($"v",
        coalesce(substring($"fk", 31, 100), lit("direct")).as("first_ch"),
        coalesce(substring($"lk", 31, 100), lit("direct")).as("last_ch"))
    // both models in ONE pass: explode each attributed purchase into its
    // (model, channel) memberships instead of unionAll of two groupBys over
    // the same interval-join subtree (which executed it twice) — counts are
    // identical and the revenue sum is DECIMAL (order-independent exact)
    attributed.select($"v", explode(array(
        struct(lit("first_touch").as("model"), $"first_ch".as("channel")),
        struct(lit("last_touch").as("model"), $"last_ch".as("channel"))))
        .as("__m"))
      .groupBy($"__m.model".as("model"), $"__m.channel".as("channel"))
      .agg(count(lit(1)).as("conversions"), asDouble(sum($"v")).as("revenue"))
      .select($"model", $"channel", $"conversions", $"revenue")
  }

  // ---------------------------------------------------------------- A122
  /** Day-of-week × hour activity heatmap — the staffing/capacity matrix:
    * counts and value per (dow, hour) cell, CALENDAR-FREE integer
    * arithmetic (dow = (epoch_day + 4) mod 7 with 0 = Sunday — epoch day
    * 0 was a Thursday; hour = µs-in-day div 3600·10⁶), so no engine
    * timezone/locale machinery touches the keys (q145's rule). 168-cell
    * bounded aggregate, DECIMAL value, share one IEEE division. */
  def q242DowHourHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val whole = Window.partitionBy() // ≤168 rows — bounded
    Tables.events(spark, dir)
      .select(money($"value").as("v"),
        expr("unix_micros(cast(ts as timestamp))").as("us"))
      .select($"v",
        expr("pmod((us div 86400000000L) + 4, 7)").as("dow"),
        expr("(us % 86400000000L) div 3600000000L").as("hour"))
      .groupBy($"dow", $"hour")
      .agg(count(lit(1)).as("n_events"), asDouble(sum($"v")).as("total_value"))
      .withColumn("share",
        $"n_events".cast("double")
          / sum($"n_events").over(whole).cast("double"))
  }

  // ---------------------------------------------------------------- A123
  /** Discount-band volume response — quantity and revenue per discount
    * band (the merchandising "does discounting move volume" read, the
    * descriptive table under any elasticity fit): bands are exact integer
    * percent points (DECIMAL(4,2)·100 → long — an fp band edge would
    * straddle), quantity sums exact (integral doubles), averages single
    * IEEE divisions over the ≤\|bands\| frame. */
  def q245DiscountResponse(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select((rate($"l_discount") * 100).cast("long").as("discount_pct"),
        $"l_quantity", money($"l_extendedprice").as("price"))
      .groupBy($"discount_pct")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity").as("total_qty"),
        asDouble(sum($"price")).as("total_price"))
      .select($"discount_pct", $"n",
        ($"total_qty" / $"n".cast("double")).as("avg_qty"),
        ($"total_price" / $"n".cast("double")).as("avg_price"))

  // ---------------------------------------------------------------- A124
  /** Referential-integrity audit — orphan counts for every FK edge of the
    * schema (lineitem→orders, orders→customer, customer→nation,
    * supplier→nation): the data-quality precondition every join in this
    * repo silently assumes, reported instead of assumed. One row per
    * edge: total child rows, orphan rows, orphan share.
    *
    * Exactness: counts are exact bigints, the share one IEEE division.
    * Scale: each check is ONE anti-join on the FK — the two nation edges
    * broadcast the 25-row parent; the orders/lineitem edges are shuffle
    * hash anti-joins on their natural keys (AQE may still broadcast the
    * parent at small sf — size-adaptive, no forced hint on a big side).
    * Output is 4 rows — the union is of aggregates, not of tables. */
  def q251OrphanAudit(spark: SparkSession, dir: String): DataFrame = {
    def audit(name: String, child: DataFrame, fk: Column,
        parent: DataFrame, pk: Column, broadcastParent: Boolean): DataFrame = {
      // ONE pass per edge: a left join against the DISTINCT parent key
      // yields total and orphan counts from the same scan — a separate
      // count + anti-join would read the child fact twice. The distinct
      // matters: a duplicate parent PK would multiply matching child
      // rows and corrupt total/orphan_share — exactly the dirty-data
      // regime an integrity audit exists to report (the oracle's NOT
      // EXISTS is naturally immune; this makes the join arm match it)
      val keyed = parent.select(pk.as("__pk")).distinct()
      val p = if (broadcastParent) broadcast(keyed) else keyed
      child.join(p, fk === $"__pk", "left")
        .agg(count(lit(1)).as("total"),
          sum(when($"__pk".isNull, 1L).otherwise(0L)).as("orphans"))
        .select(lit(name).as("fk_edge"), $"total", $"orphans",
          ($"orphans".cast("double") / $"total".cast("double"))
            .as("orphan_share"))
    }
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    audit("lineitem->orders", li, $"l_orderkey", o, $"o_orderkey",
        broadcastParent = false)
      .unionAll(audit("orders->customer", o, $"o_custkey", c, $"c_custkey",
        broadcastParent = false))
      .unionAll(audit("customer->nation", c, $"c_nationkey", n, $"n_nationkey",
        broadcastParent = true))
      .unionAll(audit("supplier->nation", s, $"s_nationkey", n, $"n_nationkey",
        broadcastParent = true))
  }

  // ---------------------------------------------------------------- A125
  /** Duplicate-order screen — customers with MULTIPLE orders on one date
    * (the double-submission audit; the relational sibling of the corpus
    * dedup family C1-C4, on transactional keys instead of text). Emits
    * each suspect group with its size and the amount range as integer
    * cents — identical amounts (min = max) are the strongest duplicate
    * signal, differing ones are legitimate same-day activity to triage.
    *
    * Exactness: amounts compare as integer CENTS (DECIMAL·100 → long —
    * min/max on a double would order on ulps); counts/keys exact.
    * Scale: one partial-agged groupBy on (customer, date); output only
    * the >1 groups. */
  def q252DupOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderdate",
        (money($"o_totalprice") * 100).cast("long").as("cents"))
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(count(lit(1)).as("n_orders"),
        min($"cents").as("min_cents"), max($"cents").as("max_cents"))
      .filter($"n_orders" > 1)

  // ---------------------------------------------------------------- A126
  /** Lorenz curve of customer revenue by decile — the inequality PROFILE
    * under q211's single Gini number (which decile carries the revenue,
    * and how far the curve sags below equality): per revenue-decile, the
    * customer count, decile revenue, and the CUMULATIVE revenue share up
    * to that decile.
    *
    * Exactness: revenue is DECIMAL (exact sums); deciles are integer
    * arithmetic on the global rank (((i-1)·10) div n); the cumulative
    * share is a DECIMAL prefix sum over the 10-row frame divided once by
    * the DECIMAL total — every double is one IEEE division of exact
    * decimals. Scale: the global order rides [[Rank.globalRowNumber]]'s
    * range exchange; everything after is a 10-row frame. */
  def q253Lorenz(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(money($"o_totalprice")).as("rev"))
    val (ranked, n) = Rank.globalRowNumberAndTotal(rev,
      Seq($"rev".asc, $"o_custkey".asc), rnCol = "i")
    val byDecile = ranked
      .select(expr(s"CAST(((i - 1) * 10) div ${n}L AS INT)").as("decile"),
        $"rev")
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"), sum($"rev").as("decile_rev"))
    val w10 = Window.orderBy($"decile") // 10-row frame — bounded
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("cum_rev", sum($"decile_rev").over(w10))
      .withColumn("total", sum($"decile_rev").over(
        Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select($"decile", $"n_customers",
        asDouble($"decile_rev").as("decile_revenue"),
        (asDouble($"cum_rev") / asDouble($"total")).as("cum_share"))
  }

  // ---------------------------------------------------------------- A127
  /** Per-nation customer-concentration HHI — is a nation's order volume
    * spread across its customers or owned by a few (the within-group
    * complement of q166's cross-group market share, and the
    * Herfindahl-Hirschman index regulators actually compute):
    * HHI = Σ_c (orders_c / total)².
    *
    * Exactness trick: Σ (c_i/T)² summed as doubles would be partition-
    * order fp — instead HHI = (Σ c_i²) / T² with BOTH sides exact
    * bigints and ONE division, bit-identical cross-engine (q239's
    * integer-rollup rule). Scale: orders aggregate per customer (partial
    * agg), nation attach is a broadcast dim join, per-nation rollup is
    * ≤\|nations\| rows. */
  def q254NationHhi(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
      .join(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
    perCust
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_customers"),
        sum($"cnt").as("total_orders"),
        sum($"cnt" * $"cnt").as("sum_sq"))
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), $"n_customers", $"total_orders",
        ($"sum_sq".cast("double")
          / ($"total_orders" * $"total_orders").cast("double")).as("hhi"))
  }

  // ---------------------------------------------------------------- A128
  /** Rapid-fire / bot screen over the event stream — the per-user rate
    * profile abuse detection starts from (a human doesn't emit N events
    * in one minute or land two events on one microsecond; the per-USER
    * complement of A118's per-type burstiness and A119's gap
    * percentiles): per user, event count, minimum inter-event gap,
    * zero-gap count (duplicate timestamps), and the maximum events
    * falling in any 60-second window.
    *
    * Exactness: gaps are integer micros off one per-user lag; the
    * 60-second rolling count is a RANGE frame on the integer timestamp —
    * value-based, so timestamp ties need no order tie-break and both
    * engines count identically. Scale: ONE user-keyed exchange serves
    * the lag window, the range window, and the rollup (same-key windows
    * chain without re-shuffling). */
  def q257RapidFire(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id",
        unix_micros($"ts".cast("timestamp")).as("us"))
    val wLag = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val wRange = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(0L, 59999999L) // [t, t+60s)
    ev
      .withColumn("gap_us", $"us" - lag($"us", 1).over(wLag))
      .withColumn("in_60s", count(lit(1)).over(wRange))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        min($"gap_us").as("min_gap_us"),
        sum(when($"gap_us" === 0L, 1L).otherwise(0L)).as("n_zero_gaps"),
        max($"in_60s").as("max_in_60s"))
  }

  // ---------------------------------------------------------------- A129
  /** Repeat-purchase cadence — per returning customer (≥2 orders), the
    * order count, the active span, and the MEAN reorder interval (the
    * retention input every LTV projection starts from; the orders-side
    * complement of A119's event gaps): mean gap = span/(n−1) in days.
    *
    * Exactness: dates land as integer epoch-day via `div` on the micros
    * (never fp-divide-then-cast, q214's rule); the mean is ONE division
    * of exact integers. Scale: one per-customer partial agg — min/max/
    * count need no window at all. */
  def q258ReorderGaps(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select($"o_custkey",
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000L")
          .as("day"))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        min($"day").as("first_day"), max($"day").as("last_day"))
      .filter($"n_orders" >= 2)
      .select($"o_custkey", $"n_orders", $"first_day", $"last_day",
        (($"last_day" - $"first_day").cast("double")
          / ($"n_orders" - 1).cast("double")).as("mean_gap_days"))

  // ---------------------------------------------------------------- A130
  /** Customer activity MIGRATION matrix between the two halves of the
    * order history (the portfolio-health view A80/q162's point-in-time
    * RFM cannot give: who is ramping, who is churning — the transition
    * counts between activity classes): split the date range at its
    * midpoint, class each customer 0/1/2+ orders per half (customers
    * with no orders at all included via the left join), one row per
    * (class_h1, class_h2) cell with count and share.
    *
    * Exactness: the split day is integer arithmetic on epoch-days
    * ((min+max+1) div 2); classes compare exact counts; the share is ONE
    * division against the exact customer total. Scale: the 1-row bounds
    * aggregate broadcasts by construction; per-half counts are one
    * partial-agged pass over orders; the matrix is ≤9 rows. */
  def q259ActivityMigration(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select($"o_custkey",
      expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000L")
        .as("day"))
    val bounds = o.agg(min($"day").as("min_d"), max($"day").as("max_d"))
      .select(expr("(min_d + max_d + 1) div 2").as("split_day"))
    val counts = o.crossJoin(broadcast(bounds))
      .groupBy($"o_custkey")
      .agg(sum(when($"day" < $"split_day", 1L).otherwise(0L)).as("n1"),
        sum(when($"day" >= $"split_day", 1L).otherwise(0L)).as("n2"))
    def cls(n: Column): Column =
      when(n === 0L, "0").when(n === 1L, "1").otherwise("2+")
    val whole = Window.partitionBy() // ≤9-row frame
    Tables.customer(spark, dir).select($"c_custkey")
      .join(counts, $"c_custkey" === $"o_custkey", "left")
      .select(cls(coalesce($"n1", lit(0L))).as("class_h1"),
        cls(coalesce($"n2", lit(0L))).as("class_h2"))
      .groupBy($"class_h1", $"class_h2")
      .agg(count(lit(1)).as("n_customers"))
      .withColumn("share", $"n_customers".cast("double")
        / sum($"n_customers").over(whole).cast("double"))
  }

  // ---------------------------------------------------------------- A131
  /** Order-size distribution — lineitems-per-order histogram with shares
    * (the basket-size profile under A114/q230's customer-order custdist:
    * how many LINES a typical order carries drives picking/packing cost
    * models): one row per distinct size with order count and share.
    *
    * Exactness: both aggregation levels are exact counts; the share one
    * division against the exact order total. Scale: partial-agged
    * groupBy per order, then a ≤\|sizes\|-row rollup — every window on
    * the bounded frame. */
  def q261OrderSizeHist(spark: SparkSession, dir: String): DataFrame = {
    val whole = Window.partitionBy() // ≤|distinct sizes| rows
    Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey").agg(count(lit(1)).as("n_items"))
      .groupBy($"n_items").agg(count(lit(1)).as("n_orders"))
      .withColumn("share", $"n_orders".cast("double")
        / sum($"n_orders").over(whole).cast("double"))
  }

  // ---------------------------------------------------------------- A132
  /** Unit-price outliers — the top-k lineitems by extendedprice/quantity
    * (the pricing-error screen: a decimal-point slip or unit mixup shows
    * up as an absurd per-unit price long before any distribution fit):
    * global top-k with part attributes attached.
    *
    * Exactness: the ratio is ONE IEEE division of a DECIMAL→DOUBLE cast
    * by an integral-double quantity — identical casts both engines; ties
    * break on (orderkey, linenumber), total. Scale: global top-k is
    * `orderBy().limit(k)` — TakeOrdered, never a full sort; the rank
    * decorates the k-row result; the part attach joins AFTER the cut, so
    * only k rows hit the dimension. */
  def q262UnitPriceOutliers(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    val top = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity",
        (asDouble(money($"l_extendedprice")) / $"l_quantity")
          .as("unit_price"))
      .orderBy($"unit_price".desc, $"l_orderkey".asc, $"l_linenumber".asc)
      .limit(k)
    val w = Window.orderBy($"unit_price".desc, $"l_orderkey".asc,
      $"l_linenumber".asc) // k-row frame — bounded
    top.withColumn("rank", row_number().over(w).cast("long"))
      .join(Tables.part(spark, dir).select($"p_partkey", $"p_type"),
        $"l_partkey" === $"p_partkey")
      .select($"rank", $"l_orderkey", $"l_linenumber", $"l_partkey",
        $"p_type", $"l_quantity", $"unit_price")
  }

  // ---------------------------------------------------------------- A133
  /** Spearman rank correlation between quantity and discount per return
    * flag — the monotone-association screen behind the discount-policy
    * questions q245 answers by band — with textbook tie-averaged ranks,
    * computed WITHOUT ranking a single row.
    *
    * Both columns are low-cardinality (≤50 quantities × ≤11 discounts),
    * so a value's tie-averaged rank is a function of per-value counts
    * alone: minrank(v) = 1 + Σ_{u<v} c_u, and the ×2-scaled centered
    * rank D(v) = 2·minrank + c − 1 − (n+1) is an INTEGER (scale and
    * center cancel in Pearson). Spearman = Σ cnt·Dx·Dy /
    * (√Σ cnt·Dx² · √Σ cnt·Dy²) over the joint contingency table.
    *
    * Scale: the partial-agged groupBy into ≤|x|·|y| cells is the only
    * full-data pass; ranks come from ≤50-row bounded windows and the
    * joins run on ≤550-cell frames. Exactness: integer counts and ranks,
    * i64 cell products (≲n³/|cells| — safe to ~2M rows/group; promote
    * the products to decimal past that), DECIMAL(38,0) accumulators, one
    * correctly-rounded decimal→double cast per sum, then √·/ in fixed
    * order — bit-identical on both engines. */
  def q263Spearman(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_quantity".as("x"), $"l_discount".as("y"))
      .agg(count(lit(1)).as("cnt"))
    def axis(v: String): DataFrame = {
      val counts = cells.groupBy($"l_returnflag", col(v))
        .agg(sum($"cnt").as("c"))
      val below = Window.partitionBy($"l_returnflag").orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, -1) // ≤50-row frame
      val grp = Window.partitionBy($"l_returnflag") // ≤50-row frame
      counts
        .withColumn("minrank", coalesce(sum($"c").over(below), lit(0L)) + 1)
        .withColumn("d",
          lit(2L) * $"minrank" + $"c" - 1 - (sum($"c").over(grp) + 1))
    }
    val dx = axis("x").select($"l_returnflag", $"x", $"d".as("dx"))
    val dy = axis("y").select($"l_returnflag", $"y", $"d".as("dy"))
    cells
      .join(dx, Seq("l_returnflag", "x"))
      .join(dy, Seq("l_returnflag", "y"))
      .groupBy($"l_returnflag")
      .agg(sum($"cnt").as("n_rows"),
        sum(($"cnt" * $"dx" * $"dy").cast(DecimalType(38, 0))).as("sxy"),
        sum(($"cnt" * $"dx" * $"dx").cast(DecimalType(38, 0))).as("sxx"),
        sum(($"cnt" * $"dy" * $"dy").cast(DecimalType(38, 0))).as("syy"))
      .select($"l_returnflag", $"n_rows",
        ($"sxy".cast("double")
          / (sqrt($"sxx".cast("double")) * sqrt($"syy".cast("double"))))
          .as("spearman"))
  }

  // ---------------------------------------------------------------- A134
  /** Part price-consistency audit: per part, the count of distinct unit
    * prices it ever sold at and the relative spread (max−min)/min, rolled
    * up per brand — a stale price list or decimal slip shows up as one
    * part selling at many unit prices or a wide spread band.
    *
    * Exactness: unit price is ONE IEEE division of exact integer cents
    * by the integral quantity — equal rationals round to the same double,
    * so the distinct-count is sound; max/min are exact selections and the
    * spread is two IEEE steps in fixed order; the brand-level average is
    * one division of exact integer sums. Scale: two partial-agged
    * groupBys (lineitem→part→brand); the part dimension attaches
    * broadcast to the already-aggregated per-part frame. */
  def q264PriceDispersion(spark: SparkSession, dir: String): DataFrame = {
    val unit = Tables.lineitem(spark, dir)
      .select($"l_partkey",
        (asDouble(money($"l_extendedprice") * 100) / $"l_quantity")
          .as("unit"))
    val per = unit.groupBy($"l_partkey")
      .agg(countDistinct($"unit").as("n_prices"),
        ((max($"unit") - min($"unit")) / min($"unit")).as("rel_range"))
    per
      .join(broadcast(Tables.part(spark, dir)
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"),
        sum(when($"n_prices" > 1, 1L).otherwise(0L)).as("multi_price_parts"),
        (sum($"n_prices").cast("double") / count(lit(1)))
          .as("avg_price_points"),
        max($"rel_range").as("max_rel_range"))
  }

  // ---------------------------------------------------------------- A135
  /** Nation trade balance: the revenue a nation's SUPPLIERS earn vs what
    * its CUSTOMERS spend, side by side with the net position and the
    * export ratio — the two-role rollup the nation-pair flows of
    * q207/tpch-Q7 slice one pair at a time.
    *
    * Exactness: both sides sum the exact decimal revenue expression;
    * each decimal→double cast is correctly rounded, and balance/ratio
    * are single IEEE steps on those casts in fixed order. Scale: two
    * independently partial-agged fact aggregations (supplier side one
    * dim join; customer side the lineitem⋈orders shuffle both TPC-H
    * shapes already pay, AQE-skew-safe), full-outer-merged on a ≤25-row
    * frame, nation names broadcast. */
  def q266TradeBalance(spark: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(3, 2))
    val revenue = money($"l_extendedprice") * (one - rate($"l_discount"))
    val li = Tables.lineitem(spark, dir)
    val sup = li
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey".as("nationkey"))
      .agg(sum(revenue).as("sup_rev"))
    val cust = li
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("nationkey"))
      .agg(sum(revenue).as("cust_sp"))
    sup.join(cust, Seq("nationkey"), "full_outer")
      .join(broadcast(Tables.nation(spark, dir)),
        $"nationkey" === $"n_nationkey")
      .select($"n_name",
        coalesce(asDouble($"sup_rev"), lit(0.0)).as("sup_revenue"),
        coalesce(asDouble($"cust_sp"), lit(0.0)).as("cust_spend"))
      .withColumn("balance", $"sup_revenue" - $"cust_spend")
      .withColumn("export_ratio", $"sup_revenue" / $"cust_spend")
  }

  // ---------------------------------------------------------------- A136
  /** Order-to-ship flow balance: per month, lines placed (by order date)
    * vs lines shipped (by ship date) with running cumulative totals and
    * the open backlog — the operational series behind A111/q225's
    * point-in-time lag distribution (is fulfillment keeping up, and when
    * did the backlog peak?).
    *
    * Exactness: counts and cumulative integer sums, subtraction exact.
    * Scale: two partial-agged monthly rollups (the placed side pays the
    * lineitem⋈orders shuffle every TPC-H shape pays), merged full-outer
    * and cumulated on a ≤\|months\| bounded frame. */
  def q267ShipBacklog(spark: SparkSession, dir: String): DataFrame = {
    val placed = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy(date_trunc("month", $"o_orderdate").cast(TimestampNTZType)
        .as("month"))
      .agg(count(lit(1)).as("placed_lines"))
    val shipped = Tables.lineitem(spark, dir)
      .groupBy(date_trunc("month", $"l_shipdate").cast(TimestampNTZType)
        .as("month"))
      .agg(count(lit(1)).as("shipped_lines"))
    val w = Window.orderBy($"month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow) // ≤|months|
    placed.join(shipped, Seq("month"), "full_outer")
      .select($"month",
        coalesce($"placed_lines", lit(0L)).as("placed_lines"),
        coalesce($"shipped_lines", lit(0L)).as("shipped_lines"))
      .withColumn("cum_placed", sum($"placed_lines").over(w))
      .withColumn("cum_shipped", sum($"shipped_lines").over(w))
      .withColumn("backlog", $"cum_placed" - $"cum_shipped")
  }

  // ---------------------------------------------------------------- A137
  /** Fulfillment SLA attainment by order priority: bucket each order by
    * the days from order date to its FIRST shipped line (≤30 / ≤60 / ≤90
    * / 90+ / none for orders with no lines), with within-priority shares
    * — is URGENT actually shipping faster than LOW? The order-level SLA
    * complement of A111/q225's line-level lag distribution.
    *
    * Exactness: the lag is integer `div` on date-granular micros (never
    * fp-divide-then-cast), buckets exact comparisons, shares ONE
    * division against the priority's exact total. Scale: one per-order
    * partial agg for first-ship, the orders-side join, then a
    * ≤\|priorities\|·\|buckets\| rollup with bounded-frame windows. */
  def q269PrioritySla(spark: SparkSession, dir: String): DataFrame = {
    val firstShip = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey").agg(min($"l_shipdate").as("first_ship"))
    val days = expr(
      "(unix_micros(CAST(first_ship AS TIMESTAMP))" +
        " - unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000")
    val bucket = when($"first_ship".isNull, "none")
      .when(days <= 30, "d030").when(days <= 60, "d060")
      .when(days <= 90, "d090").otherwise("d90plus")
    val perPrio = Window.partitionBy($"o_orderpriority") // ≤|buckets| frame
    Tables.orders(spark, dir)
      .join(firstShip, $"o_orderkey" === $"l_orderkey", "left")
      .groupBy($"o_orderpriority", bucket.as("sla_bucket"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("share", $"n_orders".cast("double")
        / sum($"n_orders").over(perPrio).cast("double"))
  }

  // ---------------------------------------------------------------- A138
  /** Event-type co-occurrence within sessions, with lift: for each type
    * pair, the sessions containing BOTH, each alone, and
    * lift = P(both) / (P(a)·P(b)) — which actions travel together in one
    * visit (the session-grain complement of A58/q124's step transitions
    * and A89/q187's order-basket rules).
    *
    * Exactness: counts of DISTINCT (session, type) rows; lift is ONE
    * division of exact integer products (n_both·S and n_a·n_b both fit
    * i64). Scale: q89's gap sessionization (user-keyed windows), one
    * distinct on (user, session, type), and a within-session self-join
    * whose fan-out is ≤C(\|types\|,2) pairs per session — bounded
    * per-key quadratic; rollups partial-agg to ≤\|types\|² rows and the
    * session total rides a 1-row broadcast. */
  def q270SessionCooccur(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val sess = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("us"))
      .withColumn("__new",
        when(lag($"us", 1).over(byUser).isNull
          || $"us" - lag($"us", 1).over(byUser) > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum($"__new").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val st = sess.select($"user_id", $"session_seq", $"event_type")
      .distinct()
    val totals = st.select($"user_id", $"session_seq").distinct()
      .groupBy().agg(count(lit(1)).as("s_total")) // 1 row by construction
    val perType = st.groupBy($"event_type").agg(count(lit(1)).as("n_type"))
    st.as("a")
      .join(st.as("b"), $"a.user_id" === $"b.user_id"
        && $"a.session_seq" === $"b.session_seq"
        && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(perType.as("pa")), $"type_a" === $"pa.event_type")
      .join(broadcast(perType.as("pb")), $"type_b" === $"pb.event_type")
      .crossJoin(broadcast(totals))
      .select($"type_a", $"type_b", $"n_both",
        $"pa.n_type".as("n_a"), $"pb.n_type".as("n_b"), $"s_total",
        (($"n_both" * $"s_total").cast("double")
          / ($"pa.n_type" * $"pb.n_type").cast("double")).as("lift"))
  }

  // ---------------------------------------------------------------- A139
  /** Single-sourcing risk: per part, the share of its shipped quantity
    * carried by its TOP supplier, rolled up per brand — parts whose
    * volume rides one supplier are the supply-chain fragility the
    * diversity index (A115/q231) reports from the supplier side.
    *
    * Exactness: quantities are integral doubles summed as longs; the
    * top-share and the brand-weighted share are each ONE division of
    * exact integer sums. Scale: two partial-agged groupBys
    * (lineitem→(part,supplier)→part), brand dim broadcast onto the
    * aggregated frame. */
  def q271SupplierDependency(spark: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum($"l_quantity".cast("long")).as("qty"))
    val per = ps.groupBy($"l_partkey")
      .agg(countDistinct($"l_suppkey").as("n_suppliers"),
        max($"qty").as("top_qty"), sum($"qty").as("total_qty"))
      .withColumn("top_share",
        $"top_qty".cast("double") / $"total_qty".cast("double"))
    per
      .join(broadcast(Tables.part(spark, dir)
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"),
        sum(when($"n_suppliers" === 1, 1L).otherwise(0L))
          .as("single_source_parts"),
        (sum($"top_qty").cast("double") / sum($"total_qty").cast("double"))
          .as("weighted_top_share"),
        max($"top_share").as("max_top_share"))
  }

  // ---------------------------------------------------------------- A140
  /** Channel mix-shift detector: per event type, the largest
    * day-over-day swing in its within-day activity share, and the day it
    * happened — the "something changed in the mix" alarm over the heatmap
    * A122 draws (a share swing catches a channel silently dying even
    * while total volume grows).
    *
    * Exactness: shares are ONE division of exact counts; consecutive-day
    * deltas subtract two identical doubles (exact IEEE); the peak day
    * avoids struct-aggregate tie-break differences by selecting in two
    * steps — max delta first, then the EARLIEST day among exact ties
    * (min over the rows matching the max, identical both engines).
    * Scale: one partial-agged rollup to ≤\|types\|·\|days\| rows;
    * every window runs on that bounded frame. */
  def q272MixShift(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(spark, dir)
      .groupBy(date_trunc("day", $"ts".cast("timestamp"))
          .cast(TimestampNTZType).as("day"),
        $"event_type")
      .agg(count(lit(1)).as("n"))
    val perDay = Window.partitionBy($"day") // ≤|types| frame
    val byType = Window.partitionBy($"event_type").orderBy($"day")
    val shifts = m
      .withColumn("share",
        $"n".cast("double") / sum($"n").over(perDay).cast("double"))
      .withColumn("prev_share", lag($"share", 1).over(byType))
      .filter($"prev_share".isNotNull)
      .withColumn("shift", abs($"share" - $"prev_share"))
    val peak = shifts.groupBy($"event_type")
      .agg(count(lit(1)).as("n_shifts"), max($"shift").as("max_shift"))
    peak.join(shifts.select($"event_type", $"day", $"shift"),
        Seq("event_type"))
      .filter($"shift" === $"max_shift")
      .groupBy($"event_type", $"n_shifts", $"max_shift")
      .agg(min($"day").as("peak_day")) // earliest among exact ties
  }

  // ---------------------------------------------------------------- A141
  /** Error-rate burn monitor: per day, error events vs total with the
    * rate, flagging days whose rate exceeds 1.5× the overall rate — the
    * SLO dashboard row (A140 catches mix drift; this catches the
    * reliability regression inside one channel).
    *
    * Exactness: the flag is INTEGER cross-multiplication
    * (2·err_d·total_all > 3·tot_d·err_all ⇔ rate_d > 1.5·rate_all) — no
    * fp in the decision, and both products compare as DECIMAL(38,0) so
    * the comparison is exact far past the i64 range a 100 TB event log
    * could reach (2·err_d·total_all wraps silently at ~4.6e18 under
    * Spark's non-ANSI long arithmetic, where DuckDB would error — the
    * decimal cast removes that divergence instead of documenting it);
    * the displayed rate is one division of exact counts. Scale: one
    * partial-agged daily rollup; the global totals ride a 1-row
    * broadcast onto the ≤\|days\| frame. */
  def q275ErrorBurn(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", $"ts".cast("timestamp"))
        .cast(TimestampNTZType).as("day"))
      .agg(count(lit(1)).as("total"),
        sum(when($"event_type" === "error", 1L).otherwise(0L)).as("errors"))
    val overall = daily.groupBy()
      .agg(sum($"total").as("tot_all"), sum($"errors").as("err_all"))
    daily.crossJoin(broadcast(overall)) // 1 row by construction
      .select($"day", $"errors", $"total",
        ($"errors".cast("double") / $"total".cast("double")).as("error_rate"),
        ((lit(2L) * $"errors").cast(DecimalType(38, 0)) * $"tot_all"
          > (lit(3L) * $"total").cast(DecimalType(38, 0)) * $"err_all")
          .as("burn_alert"))
  }

  // ---------------------------------------------------------------- A142
  /** New vs returning revenue by month: each order classified by whether
    * it is its customer's FIRST (earliest (date, orderkey) — a total
    * order, so ties on a same-day double-purchase resolve identically in
    * both engines), then monthly revenue split with the returning share
    * — the revenue-weighted counterpart of A79/q159's user-count growth
    * accounting.
    *
    * Exactness: first-order identity is an integer min over the
    * zero-padded-free numeric pair (min epoch-day, then min orderkey at
    * that day — two exact aggregates); revenue sums are exact decimals
    * with one double cast each; the share one division. Scale: per-
    * customer partial agg for firsts, the lineitem⋈orders shuffle every
    * TPC-H shape pays, monthly ≤\|months\| rollup. */
  def q276FirstRepeatRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // customer-cardinality frames: NEVER hint-broadcast (AQE may still
    // choose to at small scale) — both joins key on o_custkey, so the
    // exchanges line up
    val firstDay = o.groupBy($"o_custkey".as("fc"))
      .agg(min($"o_orderdate").as("d0"))
    val firstKey = o.join(firstDay,
        $"o_custkey" === $"fc" && $"o_orderdate" === $"d0")
      .groupBy($"o_custkey".as("fk_cust"))
      .agg(min($"o_orderkey").as("first_okey"))
    val one = lit(1).cast(DecimalType(3, 2))
    val revenue = money($"l_extendedprice") * (one - rate($"l_discount"))
    val perMonth = Tables.lineitem(spark, dir)
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(firstKey, $"o_custkey" === $"fk_cust")
      .groupBy(date_trunc("month", $"o_orderdate").cast(TimestampNTZType)
        .as("month"))
      .agg(
        asDouble(sum(when($"o_orderkey" === $"first_okey", revenue)
          .otherwise(lit(0).cast(DecimalType(14, 2))))).as("new_revenue"),
        asDouble(sum(when($"o_orderkey" =!= $"first_okey", revenue)
          .otherwise(lit(0).cast(DecimalType(14, 2))))).as("repeat_revenue"))
    perMonth.withColumn("repeat_share",
      $"repeat_revenue" / ($"new_revenue" + $"repeat_revenue"))
  }

  // ---------------------------------------------------------------- A143
  /** Kendall rank correlation (τ-b) between two per-nation wealth
    * measures — customer deposits (total account balance) vs realized
    * demand (total order value): the tie-robust ordinal agreement test,
    * complementing A133/q263's Spearman (which needs the full rank
    * algebra; Kendall needs only pairwise sign counts).
    *
    * Exactness: both measures are exact integer CENTS; concordant /
    * discordant / tie counts are integer aggregates over the nation-pair
    * cross product; τ-b is one fixed fp expression over them (×,−,÷,sqrt
    * — all IEEE-deterministic). Scale: the quadratic pair enumeration is
    * over the NATION aggregate (≤\|nations\|² pairs after two partial-
    * agged fact rollups) — the fact tables are never pair-joined. */
  def q277KendallTau(spark: SparkSession, dir: String): DataFrame = {
    val bal = Tables.customer(spark, dir)
      .groupBy($"c_nationkey".as("nk"))
      .agg(sum((money($"c_acctbal") * 100).cast("long")).as("x"))
    val rev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("nk2"))
      .agg(sum((money($"o_totalprice") * 100).cast("long")).as("y"))
    // both sides of the pair self-join read this ≤|nations|-row frame —
    // materialize once or Catalyst re-runs BOTH fact rollups per side
    val pts = graft.Lineage.truncate(
      bal.join(rev, $"nk" === $"nk2").select($"nk", $"x", $"y"),
      eager = false).df
    val a = pts.select($"nk".as("ia"), $"x".as("xa"), $"y".as("ya"))
    val b = pts.select($"nk".as("ib"), $"x".as("xb"), $"y".as("yb"))
    val pairs = a.join(b, $"ia" < $"ib") // ≤ |nations|²/2 rows
      .select(
        signum(($"xa" - $"xb").cast("double")).as("sx"),
        signum(($"ya" - $"yb").cast("double")).as("sy"))
    pairs.agg(
        count(lit(1)).as("n0"),
        sum(when($"sx" * $"sy" > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when($"sx" * $"sy" < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when($"sx" === 0.0, 1L).otherwise(0L)).as("ties_x"),
        sum(when($"sy" === 0.0, 1L).otherwise(0L)).as("ties_y"))
      .select($"n0", $"concordant", $"discordant", $"ties_x", $"ties_y",
        (($"concordant" - $"discordant").cast("double")
          / (sqrt(($"n0" - $"ties_x").cast("double"))
            * sqrt(($"n0" - $"ties_y").cast("double")))).as("tau_b"))
  }

  // ---------------------------------------------------------------- A144
  /** Wald–Wolfowitz runs test on the daily-revenue series — is the
    * sequence of above/below-median days RANDOM, or does revenue cluster
    * in regimes (momentum) / alternate (overcorrection)? The
    * nonparametric randomness screen a forecasting pipeline runs before
    * trusting i.i.d. assumptions; complements A95/q196's CUSUM (which
    * needs a reference level — this is self-referencing).
    *
    * Exactness: daily totals are exact integer cents; the threshold is
    * the LOWER MEDIAN (the ⌈n/2⌉-th smallest — an exact selection, no
    * fp midpoint averaging); run boundaries and counts are integer; the
    * z-statistic is one fixed fp expression (μ = 1 + 2ab/n, σ² =
    * 2ab(2ab−n)/(n²(n−1))). Scale: one partial-agged daily rollup; the
    * ordered pass runs on the ≤\|days\| aggregate — the bounded-frame
    * exception §6 allows (global order over ~10³ rows, never the fact). */
  def q278RunsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderdate".as("day"))
      .agg(sum((money($"o_totalprice") * 100).cast("long")).as("cents"))
    val byVal = Window.orderBy($"cents", $"day") // ≤|days| frame
    val n = Window.partitionBy()
    val ranked = daily
      .withColumn("rk", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(n))
    val thresh = ranked
      // lower median rank ⌈n/2⌉ = floor((n+1)/2): the fp division is exact
      // (x.0 or x.5) and floor lands on the integer rank for BOTH parities
      .filter($"rk" === floor(($"n" + 1) / 2)) // 1 row
      .select($"cents".as("median_cents"))
    val seq0 = daily.crossJoin(broadcast(thresh))
      .withColumn("above", ($"cents" > $"median_cents").cast("int"))
    val byDay = Window.orderBy($"day") // ≤|days| frame
    val runs = seq0
      .withColumn("brk",
        when(lag($"above", 1).over(byDay).isNull
          || lag($"above", 1).over(byDay) =!= $"above", 1L).otherwise(0L))
      .agg(sum($"above".cast("long")).as("n_above"),
        sum(lit(1L) - $"above").as("n_below"),
        sum($"brk").as("n_runs"))
    val ad = $"n_above".cast("double"); val bd = $"n_below".cast("double")
    val nd = ad + bd
    val mu = lit(1.0) + lit(2.0) * ad * bd / nd
    val sig2 = (lit(2.0) * ad * bd * (lit(2.0) * ad * bd - nd)) /
      (nd * nd * (nd - lit(1.0)))
    runs.select($"n_above", $"n_below", $"n_runs",
      mu.as("expected_runs"),
      (($"n_runs".cast("double") - mu) / sqrt(sig2)).as("z"))
  }

  // ---------------------------------------------------------------- A145
  /** DAU/WAU stickiness per week — the engagement-depth ratio (how much
    * of the weekly audience shows up on an average day): mean daily
    * active users over weekly active users, the product metric sitting
    * between A37/q83's retention (across periods) and A118/q242's
    * activity heatmap (within one).
    *
    * Exactness: both numerator and denominator are exact distinct
    * counts (sum of per-day DAU over the week; WAU over the same rows);
    * stickiness is ONE division of exact integers — no fp averaging of
    * per-day ratios. Scale: two partial-agged distinct aggregations on
    * (week/day, user) — the expensive exact-distinct shuffles key on the
    * high-cardinality pair, then collapse to ≤\|weeks\| rows. */
  def q279Stickiness(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(date_trunc("week", $"ts").cast(TimestampNTZType).as("week"),
        date_trunc("day", $"ts").cast(TimestampNTZType).as("day"),
        $"user_id")
    val dau = e.groupBy($"week", $"day")
      .agg(countDistinct($"user_id").as("dau"))
      .groupBy($"week")
      .agg(count(lit(1)).as("active_days"), sum($"dau").as("dau_sum"))
    val wau = e.groupBy($"week").agg(countDistinct($"user_id").as("wau"))
    dau.join(wau, Seq("week"))
      .select($"week", $"active_days", $"dau_sum", $"wau",
        ($"dau_sum".cast("double")
          / ($"active_days" * $"wau").cast("double")).as("stickiness"))
  }

  // ---------------------------------------------------------------- A146
  /** Daily-activity streaks: each user's LONGEST run of consecutive
    * active days, then the population histogram of streak lengths — the
    * habit-formation metric (how many users sustain a k-day streak)
    * that retention matrices (A114/q232) blur by bucketing periods
    * independently.
    *
    * Exactness: pure integer arithmetic — the gaps-and-islands identity
    * (epoch_day − dense row index is constant within a consecutive run)
    * on exact distinct days. Scale: every window partitions by user_id
    * (parallel); three partial-agged shuffles, output ≤\|distinct
    * streak lengths\| rows. */
  def q280DailyStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select($"user_id",
        datediff(to_date(date_trunc("day", $"ts")),
          to_date(lit("1970-01-01"))).as("d"))
      .distinct()
    val byUser = Window.partitionBy($"user_id").orderBy($"d")
    val streaks = days
      .withColumn("island", $"d" - row_number().over(byUser))
      .groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(max($"len").as("best_streak"))
    streaks.groupBy($"best_streak")
      .agg(count(lit(1)).as("n_users"))
  }

  // ---------------------------------------------------------------- A147
  /** Degree assortativity of the co-purchase graph — do high-degree
    * parts co-occur with other high-degree parts (assortative r > 0) or
    * with long-tail ones (dissortative r < 0)? THE summary statistic for
    * hub structure, complementing A52/q138's co-purchase edge list and
    * the A56/q104 degree profile; computed as the Pearson correlation of
    * endpoint degrees over the directed edge list.
    *
    * Exactness: degrees and their pair products are exact integers
    * (DECIMAL(38,0) sums — a 100 TB graph's Σdeg² overflows i64); r is
    * one fixed fp expression. Scale: edges dedup via one (lo, hi)
    * groupBy; each edge meets the ≤\|parts\| degree table twice through
    * shuffle joins keyed on the endpoint; no quadratic stage — the
    * per-order pair fan-out is the same bounded \|order\|² the
    * co-purchase operator itself pays, and hot parts never multiply
    * (degree join is per-edge). */
  def q281Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    // the edge list feeds FOUR plan branches (both union arms of the
    // degree count and of the directed list); without truncation Catalyst
    // re-runs the self-join + dedup per branch — the §6 shared-subplan
    // rule (same as q167/q176/q181)
    val e0 = graft.Lineage.truncate(
      li.as("a").join(li.as("b"), Seq("ok"))
        .filter($"a.pk" < $"b.pk")
        .select($"a.pk".as("lo"), $"b.pk".as("hi"))
        .distinct(), // one undirected edge per co-purchased pair
      eager = false).df
    // ONE exploded pass for degrees and an EDGE-level join chain for the
    // moments, instead of materializing the directed 2|E| list and
    // joining it to the degree table twice: over the directed list every
    // undirected edge contributes (deg_lo, deg_hi) once per direction, so
    // Σdu = Σdv = Σ(dlo+dhi), Σdu² = Σdv² = Σ(dlo²+dhi²) and
    // Σdu·dv = 2·Σdlo·dhi — exact DECIMAL sums of the same integer
    // multisets, identical values, with e0 scanned twice instead of 4×
    // and half the join rows (r19: the two directed-side scans each read
    // the full 200 MB cached edge frame)
    val deg = e0.select(explode(array($"lo", $"hi")).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("deg"))
    val joined = e0
      .join(deg.select($"p".as("lo"), $"deg".as("dlo")), Seq("lo"))
      .join(deg.select($"p".as("hi"), $"deg".as("dhi")), Seq("hi"))
    val agg = joined.agg(
      (count(lit(1)) * 2).as("m2"), // 2·|E|
      sum(($"dlo" + $"dhi").cast(DecimalType(38, 0))).as("sx"),
      (sum(($"dlo".cast(DecimalType(19, 0)) * $"dhi")
        .cast(DecimalType(38, 0))) * 2).as("sxy"),
      sum(($"dlo".cast(DecimalType(19, 0)) * $"dlo")
          .cast(DecimalType(38, 0))
        + ($"dhi".cast(DecimalType(19, 0)) * $"dhi")
          .cast(DecimalType(38, 0))).as("sxx"))
    val md = $"m2".cast("double")
    val cov = md * $"sxy".cast("double") - $"sx".cast("double") * $"sx".cast("double")
    val vx = md * $"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double")
    agg.select(($"m2" / 2).cast("long").as("n_edges"), // m2 even — exact
      when(vx =!= 0.0, cov / (sqrt(vx) * sqrt(vx)))
        .as("assortativity"))
  }

  // ---------------------------------------------------------------- A148
  /** Market-segment × region association (χ² and Cramér's V): does the
    * customer segment mix differ by region, and by how MUCH — the
    * effect-size companion to A91/q163's drift χ² (which tests one
    * categorical against time; this crosses two categoricals and
    * normalizes to [0,1]).
    *
    * Exactness: cell/margin counts are exact integers; each cell's χ²
    * term is a fixed expression of them, and the cross-cell total folds
    * in CANONICAL (segment, region) order via an ordered cumulative
    * window whose max is the total — the same identical-fold-order
    * device as q216, because a plain fp SUM would fold in engine-
    * dependent order (the oracle mirrors with list_reduce). Scale: one
    * partial-agged count on the ≤\|segments\|·\|regions\| cross; the
    * windowed fold runs on that bounded frame. */
  def q282CramersV(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_mktsegment".as("seg"), $"n_regionkey".as("reg"))
      .agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy($"seg").agg(sum($"o").as("rt"))
    val colT = cells.groupBy($"reg").agg(sum($"o").as("ct"))
    val tot = cells.agg(sum($"o").as("n"), countDistinct($"seg").as("r"),
      countDistinct($"reg").as("c"))
    val term = cells
      .join(broadcast(rowT), Seq("seg")).join(broadcast(colT), Seq("reg"))
      .crossJoin(broadcast(tot))
      .withColumn("e",
        $"rt".cast("double") * $"ct".cast("double") / $"n".cast("double"))
      .withColumn("term",
        ($"o".cast("double") - $"e") * ($"o".cast("double") - $"e") / $"e")
    val ordered = Window.orderBy($"seg", $"reg") // ≤|seg|·|reg| frame
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    term.withColumn("cum", sum($"term").over(ordered))
      .agg(max($"n").as("n_customers"), max($"cum").as("chi2"),
        max(least($"r", $"c") - 1).as("dof_min"))
      .select($"n_customers", $"chi2",
        sqrt($"chi2" / ($"n_customers" * $"dof_min").cast("double"))
          .as("cramers_v"))
  }

  // ---------------------------------------------------------------- A149
  /** Line-number integrity audit — are each order's line numbers exactly
    * {1..n}? Classifies every order (duplicated numbers / gapped or
    * offset sequences / clean) and counts parents with NO lines at all:
    * the sequence-shaped data-quality check the FK audit (A124/q251)
    * cannot see, and on this dataset the findings are NOT vacuous — most
    * synthetic orders fail the classic TPC-H contiguity contract, which
    * is precisely what an audit is for.
    *
    * Exactness: set equality via three exact integer aggregates — with d
    * distinct values, min=1 ∧ max=d ⇔ the set is exactly {1..d}; dup ⇔
    * n>d. All counts integer, the share one division. Scale: one
    * partial-agged per-order rollup + one anti-join for childless
    * parents; output is a single row of counters. */
  def q284LinenumberAudit(spark: SparkSession, dir: String): DataFrame = {
    // the per-order rollup feeds BOTH the classification aggregate and
    // (as the distinct order-key set) the childless anti-join — truncate
    // so the fact scans ONCE, instead of a second full read + dedup
    // shuffle just to learn keys this frame already holds uniquely
    val per = graft.Lineage.truncate(
      Tables.lineitem(spark, dir)
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n"), countDistinct($"l_linenumber").as("d"),
          min($"l_linenumber").as("mn"), max($"l_linenumber").as("mx"))
        .withColumn("has_dup", $"n" > $"d")
        .withColumn("has_gap", !($"mn" === 1 && $"mx" === $"d")),
      eager = false).df
    val audit = per.agg(count(lit(1)).as("orders_with_lines"),
      sum(when($"has_dup", 1L).otherwise(0L)).as("with_dups"),
      sum(when($"has_gap", 1L).otherwise(0L)).as("with_gaps"),
      sum(when(!$"has_dup" && !$"has_gap", 1L).otherwise(0L)).as("clean"))
    val childless = Tables.orders(spark, dir)
      .join(per.select($"l_orderkey"),
        $"o_orderkey" === $"l_orderkey", "left_anti")
      .agg(count(lit(1)).as("childless_orders"))
    audit.crossJoin(childless) // 1 row × 1 row
      .select($"orders_with_lines", $"childless_orders", $"clean",
        $"with_dups", $"with_gaps",
        ($"clean".cast("double") / $"orders_with_lines".cast("double"))
          .as("clean_share"))
  }

  // ---------------------------------------------------------------- A150
  /** Per-user event-type diversity: Simpson concentration over each
    * user's event-type mix (the probability two random events of the
    * user share a type — 1/|types| uniform → 1.0 single-typed), the
    * per-entity drill-down of the corpus-level A69/q141 index: WHICH
    * users are single-channel vs broad.
    *
    * Exactness: Σc² and n are exact integers — c² rides as
    * DECIMAL(38,0) because a single-typed bot user past ~3e9 events
    * would silently wrap i64 under Spark's non-ANSI arithmetic where
    * DuckDB errors (the q275 divergence, pre-empted); Simpson ONE
    * division. Scale: one (user, type) partial agg then a per-user
    * rollup — both key-parallel, output ≤\|users\| rows. */
  def q285UserDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy($"user_id")
      .agg(sum($"c").as("n_events"), count(lit(1)).as("n_types"),
        sum(($"c".cast(DecimalType(19, 0)) * $"c").cast(DecimalType(38, 0)))
          .as("s2"))
      .select($"user_id", $"n_events", $"n_types",
        ($"s2".cast("double")
          / ($"n_events".cast(DecimalType(19, 0)) * $"n_events")
            .cast("double")).as("simpson"))

  // ---------------------------------------------------------------- A151
  /** Split-sourcing within one order: (order, part) groups filled from
    * MULTIPLE suppliers, rolled up per brand — the line-level procurement
    * anomaly (double allocation, split shipments) that A137/q271's
    * part-level single-sourcing risk is blind to, because it aggregates
    * away the order dimension.
    *
    * Exactness: the split flag is an exact distinct count; shares one
    * division. Scale: one (order, part) partial agg (the natural
    * lineitem key — no fan-out), the ≤\|parts\| brand dimension joins
    * broadcast onto the aggregated frame, ≤\|brands\| output. */
  def q286SplitSourcing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey", $"l_partkey")
      .agg(countDistinct($"l_suppkey").as("n_supp"))
      .join(broadcast(Tables.part(spark, dir)
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("order_part_groups"),
        sum(when($"n_supp" >= 2, 1L).otherwise(0L)).as("split_groups"))
      .select($"p_brand", $"order_part_groups", $"split_groups",
        ($"split_groups".cast("double")
          / $"order_part_groups".cast("double")).as("split_share"))

  // ---------------------------------------------------------------- A152
  /** Monthly order-value band mix: orders bucketed into FIXED value
    * bands (integer-cent thresholds — no data-dependent quantiles, so
    * months compare against a stable yardstick) with each band's
    * within-month share — the price-mix drift view that A120's
    * data-driven deciles and A59's fixed-width histogram don't give over
    * time.
    *
    * Exactness: band assignment compares exact integer cents against
    * integer literals; counts exact, share one division. Scale: one
    * partial-agged (month, band) count + a ≤\|months\| totals join. */
  def q288ValueBands(spark: SparkSession, dir: String): DataFrame = {
    val cents = (money($"o_totalprice") * 100).cast("long")
    val band = when(cents < 5000000L, "a_lt_50k")
      .when(cents < 15000000L, "b_50k_150k")
      .when(cents < 30000000L, "c_150k_300k")
      .otherwise("d_300k_plus")
    val cells = Tables.orders(spark, dir)
      .groupBy(date_trunc("month", $"o_orderdate").cast(TimestampNTZType)
        .as("month"), band.as("band"))
      .agg(count(lit(1)).as("n_orders"))
    val totals = cells.groupBy($"month")
      .agg(sum($"n_orders").as("month_total"))
    cells.join(totals, Seq("month"))
      .select($"month", $"band", $"n_orders", $"month_total",
        ($"n_orders".cast("double") / $"month_total".cast("double"))
          .as("band_share"))
  }

  // ---------------------------------------------------------------- A153
  /** Order-priority mix by market segment — the service-level cross-tab
    * (do BUILDING customers really file more URGENT orders?) with
    * within-segment shares: the TPC-H sibling of C119's source × lang
    * matrix, crossing a fact attribute against a dimension attribute.
    *
    * Exactness: counts exact, share one division. Scale: the orders ⋈
    * customer join shuffles on its natural key (customer-cardinality —
    * no broadcast hint, AQE decides at small scale), then a partial-
    * agged ≤\|segments\|·\|priorities\| rollup + totals join. */
  def q289PriorityMix(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"),
        $"o_orderpriority".as("priority"))
      .agg(count(lit(1)).as("n_orders"))
    val totals = cells.groupBy($"segment")
      .agg(sum($"n_orders").as("seg_total"))
    cells.join(totals, Seq("segment"))
      .select($"segment", $"priority", $"n_orders", $"seg_total",
        ($"n_orders".cast("double") / $"seg_total".cast("double"))
          .as("priority_share"))
  }

  // ---------------------------------------------------------------- A154
  /** Brand seasonal concentration: each brand's peak shipping month and
    * the share of its annual volume that month carries — the per-brand
    * drill-down A71/q145's global seasonal index averages away (a flat
    * aggregate can hide one brand that only sells in December).
    *
    * Exactness: quantities are integral doubles → exact longs; the peak
    * is a two-step max-then-earliest-month (no struct-aggregate
    * tie-break divergence — q272's device); share one division. Scale:
    * one (brand, month) partial agg; everything after runs on that
    * ≤\|brands\|·\|months\| frame. */
  def q290BrandSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", date_trunc("month", $"l_shipdate")
        .cast(TimestampNTZType).as("month"))
      .agg(sum($"l_quantity".cast("long")).as("qty"))
    val peak = monthly.groupBy($"p_brand")
      .agg(sum($"qty").as("total_qty"), max($"qty").as("peak_qty"))
    peak.join(monthly, Seq("p_brand"))
      .filter($"qty" === $"peak_qty")
      .groupBy($"p_brand", $"total_qty", $"peak_qty")
      .agg(min($"month").as("peak_month")) // earliest among exact ties
      .select($"p_brand", $"total_qty", $"peak_qty", $"peak_month",
        ($"peak_qty".cast("double") / $"total_qty".cast("double"))
          .as("seasonal_share"))
  }

  // ---------------------------------------------------------------- A155
  /** Order-cadence regularity per customer: the coefficient of variation
    * over CONSECUTIVE inter-order gaps — the regularity signal A129/
    * q258's mean gap (a telescoping span/(n−1)) cannot carry, since two
    * customers with identical spans can be metronomic or bursty.
    *
    * Exactness: gaps are integer days from a per-customer lag (the gap
    * MULTISET is invariant to tie order among same-day orders, so the
    * tiebreak never reaches the output); cv = sqrt(m·Σg²−(Σg)²)/Σg is
    * one fixed fp expression over exact integer sums, guarded NULL for
    * the all-same-day customer (zero mean gap) in BOTH engines. Scale:
    * per-customer windows (key-parallel), one partial-agged rollup,
    * ≤\|customers\| output. */
  def q291GapRegularity(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy($"o_custkey")
      .orderBy($"day", $"o_orderkey")
    val gaps = Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000L")
          .as("day"))
      .withColumn("gap", $"day" - lag($"day", 1).over(byCust))
      .filter($"gap".isNotNull)
    val agg = gaps.groupBy($"o_custkey")
      .agg(count(lit(1)).as("m"), sum($"gap").as("sg"),
        sum(($"gap" * $"gap").cast(DecimalType(38, 0))).as("sg2"))
      .filter($"m" >= 2) // ≥3 orders
    agg.select($"o_custkey", ($"m" + 1).as("n_orders"),
      ($"sg".cast("double") / $"m".cast("double")).as("mean_gap_days"),
      when($"sg" > 0,
        sqrt(($"m".cast(DecimalType(38, 0)) * $"sg2"
          - ($"sg".cast(DecimalType(38, 0)) * $"sg")).cast("double"))
          / $"sg".cast("double")).as("gap_cv"))
  }

  // ---------------------------------------------------------------- A156
  /** Trade reach per supplier nation: how many DISTINCT customer nations
    * each supplier nation ships to, with line volume — the breadth
    * complement of A136/q266's bilateral balance (which nets flows
    * pairwise and cannot say "Kenya serves 19 markets").
    *
    * Exactness: distinct count over the ≤\|nations\|² pair space, share
    * one division against the exact nation total. Scale: the lineitem ⋈
    * orders ⋈ customer chain shuffles on its natural keys; the supplier
    * side broadcasts ≤\|suppliers\| (key, nation) pairs; the distinct
    * collapses to nation pairs BEFORE the final ≤\|nations\| rollup. */
  def q292TradeReach(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
    val nations = broadcast(Tables.nation(spark, dir))
    val agg = li.groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_lines"),
        countDistinct($"c_nationkey").as("n_cust_nations"))
    val total = Tables.nation(spark, dir).agg(count(lit(1)).as("n_nations"))
    agg.join(nations, $"s_nationkey" === $"n_nationkey")
      .crossJoin(broadcast(total)) // 1 row
      .select($"n_name".as("supp_nation"), $"n_lines", $"n_cust_nations",
        ($"n_cust_nations".cast("double") / $"n_nations".cast("double"))
          .as("reach_share"))
  }

  // ---------------------------------------------------------------- A157
  /** Customer lifetime-spend quartiles by segment — p25/p50/p75 of
    * per-customer total order value (exact cents at exact integer ranks,
    * ceil(q·n), no interpolation: C114's order-statistic convention),
    * the value-distribution profile under A109/q224's cohort curves.
    * Customers with no orders count at zero spend — the left join keeps
    * the denominator honest.
    *
    * Exactness: spend is an exact integer-cent sum; rank selection picks
    * an actual data value (ties need no tiebreak — a tied rank carries
    * one value); zero fp until the selected values emit. Scale: the
    * orders rollup is customer-keyed partial agg; the per-segment rank
    * rides [[Rank.groupRowNumberAndTotal]]'s range exchange on
    * (segment, cents, custkey) — each ≈n/5-customer segment spreads over
    * MANY contiguous range partitions instead of funneling through one
    * task's sort (the r14-flagged cliff), with metadata-sized offset
    * broadcasts carrying the per-group prefix. */
  def q293SegmentQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
        .groupBy($"o_custkey")
        .agg(sum((money($"o_totalprice") * 100).cast("long")).as("sp")),
        $"c_custkey" === $"o_custkey", "left")
      .select($"c_mktsegment".as("segment"), $"c_custkey",
        coalesce($"sp", lit(0L)).as("cents"))
    val ranked = Rank.groupRowNumberAndTotal(spend, Seq("segment"),
        Seq($"cents", $"c_custkey"), "rk", "n")
      // ceil(q·n) via floor((q·n + den−1)/den): the fp divisions are exact
      // (dyadic quarters), floor lands on the integer rank — q278's rule
      .withColumn("r25", floor(($"n" + 3) / 4))
      .withColumn("r50", floor(($"n" + 1) / 2))
      .withColumn("r75", floor((lit(3) * $"n" + 3) / 4))
    ranked
      .filter($"rk" === $"r25" || $"rk" === $"r50" || $"rk" === $"r75")
      .groupBy($"segment")
      .agg(max($"n").as("n_customers"),
        min(when($"rk" === $"r25", $"cents")).as("p25_cents"),
        min(when($"rk" === $"r50", $"cents")).as("p50_cents"),
        min(when($"rk" === $"r75", $"cents")).as("p75_cents"))
  }

  // ---------------------------------------------------------------- A158
  /** Weekend vs weekday revenue per month — does the order book shift
    * toward weekends, and when did it start? The calendar split of
    * A122/q242's hour heatmap (which shows the within-week pattern but
    * no trend across months).
    *
    * Exactness: the day-of-week is CALENDAR-FREE integer arithmetic
    * (dow = (epoch_day + 4) mod 7, 0 = Sunday — q145/q242's rule, no
    * engine locale machinery); revenue sums exact decimals, the share
    * one division of their double casts. Scale: one partial-agged
    * monthly rollup, ≤\|months\| output. */
  def q295WeekendRevenue(spark: SparkSession, dir: String): DataFrame = {
    val dow = expr(
      "pmod((unix_micros(cast(o_orderdate as timestamp)) div 86400000000L)" +
        " + 4, 7)")
    val weekend = dow === 0 || dow === 6
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", $"o_orderdate").cast(TimestampNTZType)
        .as("month"))
      .agg(count(lit(1)).as("n_orders"),
        asDouble(sum(money($"o_totalprice"))).as("total_revenue"),
        asDouble(sum(when(weekend, money($"o_totalprice"))
          .otherwise(lit(0).cast(DecimalType(14, 2)))))
          .as("weekend_revenue"))
      .withColumn("weekend_share", $"weekend_revenue" / $"total_revenue")
  }

  // ---------------------------------------------------------------- A159
  /** Top-customer dominance per segment: the #1 vs #2 lifetime spenders
    * and how much of their combined value the leader holds — the
    * pocket-sized concentration summary (A103's Gini describes the whole
    * curve; a sales org asks "how exposed is this segment to ONE
    * account?").
    *
    * Exactness: spend is exact integer cents; the ranking is a total
    * order (cents desc, custkey) so ties resolve identically; dominance
    * one division. Scale: customer-keyed partial agg; the rank window
    * partitions by segment (A157's noted skew posture) but ONLY rows
    * ranked ≤2 survive — WindowGroupLimit prunes the sort output. */
  def q296TopDominance(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"), $"c_custkey")
      .agg(sum((money($"o_totalprice") * 100).cast("long")).as("cents"))
    val bySeg = Window.partitionBy($"segment")
      .orderBy($"cents".desc, $"c_custkey")
    spend.withColumn("rk", row_number().over(bySeg))
      .filter($"rk" <= 2)
      .groupBy($"segment")
      .agg(min(when($"rk" === 1, $"c_custkey")).as("top_custkey"),
        min(when($"rk" === 1, $"cents")).as("top_cents"),
        min(when($"rk" === 2, $"cents")).as("second_cents"))
      .select($"segment", $"top_custkey", $"top_cents", $"second_cents",
        ($"top_cents".cast("double")
          / ($"top_cents" + $"second_cents").cast("double"))
          .as("dominance"))
  }

  // ---------------------------------------------------------------- A160
  /** Pricing surface: unit price by quantity band × discount level — the
    * empirical check that bigger baskets and deeper discounts actually
    * correlate with cheaper units (A119/q245 fits one global discount
    * response; this tabulates the joint grid a pricing team reads).
    *
    * Exactness: bands compare exact integers (quantity is an integral
    * double → long; discount level = exact DECIMAL(4,2)·100 → int);
    * per-cell totals are exact longs and the unit price ONE division of
    * them — never an fp mean of per-line ratios. Scale: one partial-
    * agged rollup to ≤\|bands\|·\|levels\| cells. */
  def q297PriceGrid(spark: SparkSession, dir: String): DataFrame = {
    val qty = $"l_quantity".cast("long")
    val band = when(qty <= 10L, "a_1_10")
      .when(qty <= 25L, "b_11_25")
      .otherwise("c_26_50")
    Tables.lineitem(spark, dir)
      .groupBy(band.as("qty_band"),
        (rate($"l_discount") * 100).cast("int").as("discount_pct"))
      .agg(count(lit(1)).as("n_lines"),
        sum((money($"l_extendedprice") * 100).cast("long")).as("total_cents"),
        sum(qty).as("total_qty"))
      .select($"qty_band", $"discount_pct", $"n_lines",
        ($"total_cents".cast("double") / $"total_qty".cast("double"))
          .as("cents_per_unit"))
  }

  // ---------------------------------------------------------------- A161
  /** Return-rate trend: monthly quantity share flagged RETURNED — is the
    * return problem growing? The time axis A1/q1's global returnflag
    * rollup collapses.
    *
    * Exactness: quantities exact longs, share one division. Scale: one
    * partial-agged monthly rollup, ≤\|months\| rows. */
  def q298ReturnsTrend(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(date_trunc("month", $"l_shipdate").cast(TimestampNTZType)
        .as("month"))
      .agg(sum($"l_quantity".cast("long")).as("total_qty"),
        sum(when($"l_returnflag" === "R", $"l_quantity".cast("long"))
          .otherwise(0L)).as("returned_qty"))
      .select($"month", $"total_qty", $"returned_qty",
        ($"returned_qty".cast("double") / $"total_qty".cast("double"))
          .as("return_share"))

  // ---------------------------------------------------------------- A162
  /** Order-status mix by year — the fulfillment pipeline's composition
    * over time (O pen / P artial / F ulfilled): a growing open share in
    * old years is stuck inventory; the yearly axis on the status column
    * no other report here reads.
    *
    * Exactness: counts exact, share one division. Scale: one partial-
    * agged (year, status) rollup + ≤\|years\| totals join. */
  def q302StatusTrend(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy(year($"o_orderdate").cast("long").as("o_year"),
        $"o_orderstatus".as("status"))
      .agg(count(lit(1)).as("n_orders"))
    val totals = cells.groupBy($"o_year")
      .agg(sum($"n_orders").as("year_total"))
    cells.join(totals, Seq("o_year"))
      .select($"o_year", $"status", $"n_orders", $"year_total",
        ($"n_orders".cast("double") / $"year_total".cast("double"))
          .as("status_share"))
  }

  // ---------------------------------------------------------------- A163
  /** Credit-risk profile per nation: customers in negative account
    * balance — how many, how deep (exact total deficit cents), and
    * whether they still transact (their order count) — the receivables
    * exposure view; A143's Kendall ranks nations by totals, this
    * isolates the underwater book.
    *
    * Exactness: balances exact integer cents; counts exact; shares one
    * division each. Scale: customer-keyed partial aggs; the per-customer
    * order rollup joins on the natural key; ≤\|nations\| output with the
    * nation dim broadcast. */
  def q303CreditRisk(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("n_ord"))
    val c = Tables.customer(spark, dir)
      .join(orders, $"c_custkey" === $"o_custkey", "left")
      .select($"c_nationkey",
        (money($"c_acctbal") * 100).cast("long").as("cents"),
        coalesce($"n_ord", lit(0L)).as("n_ord"))
    c.groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_customers"),
        sum(when($"cents" < 0L, 1L).otherwise(0L)).as("n_negative"),
        sum(when($"cents" < 0L, -$"cents").otherwise(0L))
          .as("deficit_cents"),
        sum(when($"cents" < 0L, $"n_ord").otherwise(0L))
          .as("negative_cust_orders"))
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), $"n_customers", $"n_negative",
        $"deficit_cents", $"negative_cust_orders",
        ($"n_negative".cast("double") / $"n_customers".cast("double"))
          .as("negative_share"))
  }

  // ---------------------------------------------------------------- A164
  /** Fulfillment load balance per supplier nation: the coefficient of
    * variation of line counts across the nation's suppliers — CV ≈ 0 is
    * an evenly loaded bench, high CV is one overloaded supplier about to
    * become A137/q271's single-sourcing risk.
    *
    * Exactness: per-supplier counts exact; cv = sqrt(k·Σc²−(Σc)²)/Σc one
    * fixed fp expression over DECIMAL(38,0)-cast sums (A155's formula on
    * a different axis). Suppliers with zero lines count via the left
    * join — a bench's idle members ARE imbalance. Scale: one supplier-
    * keyed partial agg, ≤\|nations\| rollup. */
  def q304LoadBalance(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = Tables.supplier(spark, dir)
      .join(Tables.lineitem(spark, dir)
        .groupBy($"l_suppkey").agg(count(lit(1)).as("c")),
        $"s_suppkey" === $"l_suppkey", "left")
      .select($"s_nationkey", coalesce($"c", lit(0L)).as("c"))
    perSupp.groupBy($"s_nationkey")
      .agg(count(lit(1)).as("k"), sum($"c").as("sc"),
        sum(($"c".cast(DecimalType(19, 0)) * $"c").cast(DecimalType(38, 0)))
          .as("sc2"))
      .join(broadcast(Tables.nation(spark, dir)),
        $"s_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), $"k".as("n_suppliers"),
        $"sc".as("n_lines"),
        when($"sc" > 0,
          sqrt(($"k".cast(DecimalType(38, 0)) * $"sc2"
            - ($"sc".cast(DecimalType(38, 0)) * $"sc")).cast("double"))
            / $"sc".cast("double")).as("load_cv"))
  }

  // ---------------------------------------------------------------- A165
  /** Customer value-trajectory mix per segment: is each customer's order
    * value RISING, FALLING, or FLAT over their order sequence, counted
    * per segment — the direction field A157's static quartiles can't
    * show (two segments with equal spend distributions can be one
    * ramping and one churning).
    *
    * Exactness: the trend is the SIGN of the regression-slope numerator
    * m·Σxy − Σx·Σy over (order index, exact cents) — pure integer
    * arithmetic as DECIMAL(38,0) (Σxy carries cents·index products), no
    * division, no sqrt; the index comes from a per-customer (date,
    * orderkey) total order. Scale: per-customer windows (key-parallel),
    * two partial-agged rollups, ≤\|segments\| output. */
  def q305ValueTrajectory(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val seq0 = Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderdate", $"o_orderkey",
        (money($"o_totalprice") * 100).cast("long").as("y"))
      .withColumn("x", row_number().over(byCust).cast("long"))
    val perCust = seq0.groupBy($"o_custkey")
      .agg(count(lit(1)).as("m"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(($"x".cast(DecimalType(19, 0)) * $"y").cast(DecimalType(38, 0)))
          .as("sxy"))
      .filter($"m" >= 2)
      .withColumn("num",
        $"m".cast(DecimalType(38, 0)) * $"sxy"
          - ($"sx".cast(DecimalType(38, 0)) * $"sy"))
      .withColumn("trend",
        when($"num" > 0, "rising").when($"num" < 0, "falling")
          .otherwise("flat"))
    perCust
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when($"trend" === "rising", 1L).otherwise(0L)).as("rising"),
        sum(when($"trend" === "falling", 1L).otherwise(0L)).as("falling"),
        sum(when($"trend" === "flat", 1L).otherwise(0L)).as("flat"))
      .withColumn("rising_share",
        $"rising".cast("double") / $"n_customers".cast("double"))
  }

  // ---------------------------------------------------------------- A166
  /** Name⇄key consistency audit: TPC-H entity names embed their own key
    * (`Customer#000000042`) — verify the embedded number matches the row
    * key, per table. The referential audit family (A124 checks edges,
    * A149 sequences) applied to DENORMALIZED redundancy, which is where
    * ETL rewrites silently drift.
    *
    * Exactness: both engines extract the segment after the LAST '#'
    * (substring_index(…, -1) ≡ string_split(…)[-1]) — aligned on the
    * same rule so malformed multi-'#' names count identically; counts
    * exact, share one division. The embedded number parses via try_cast
    * (≡ the oracle's TRY_CAST): a non-numeric tail is a MISMATCH — the
    * drift this audit exists to count — never a query abort (an ANSI
    * cast here turned one malformed name into a job failure, found by
    * the sf1.0 correctness sweep on a corpus with suffixed names).
    * Scale: two map-only scans + a 2-row union of aggregates. */
  def q306NameKeyAudit(spark: SparkSession, dir: String): DataFrame = {
    def audit(name: String, df: DataFrame, key: Column,
        nameCol: Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        sum(when(substring_index(nameCol, "#", -1).try_cast("long") === key,
          0L).otherwise(1L)).as("mismatches"))
        .select(lit(name).as("entity"), $"n_rows", $"mismatches",
          ($"mismatches".cast("double") / $"n_rows".cast("double"))
            .as("mismatch_share"))
    audit("customer", Tables.customer(spark, dir), $"c_custkey", $"c_name")
      .unionAll(
        audit("supplier", Tables.supplier(spark, dir), $"s_suppkey",
          $"s_name"))
  }

  // ---------------------------------------------------------------- A167
  /** Discount calendar: mean discount rate and deep-discount (≥8%) line
    * share per month — does discounting intensify seasonally? The TIME
    * axis on the discount column (A119/q245 fits response at one point
    * in time; A160/q297 crosses discount with quantity, not with the
    * calendar).
    *
    * Exactness: discount rides as exact DECIMAL(4,2); the mean is one
    * division of the exact decimal sum by the exact count; counts exact.
    * Scale: one partial-agged monthly rollup. */
  def q307DiscountCalendar(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(date_trunc("month", $"l_shipdate").cast(TimestampNTZType)
        .as("month"))
      .agg(count(lit(1)).as("n_lines"),
        asDouble(sum(rate($"l_discount"))).as("discount_sum"),
        sum(when(rate($"l_discount") >= lit(0.08).cast(DecimalType(4, 2)),
          1L).otherwise(0L)).as("deep_lines"))
      .select($"month", $"n_lines",
        ($"discount_sum" / $"n_lines".cast("double")).as("mean_discount"),
        ($"deep_lines".cast("double") / $"n_lines".cast("double"))
          .as("deep_share"))

  // ---------------------------------------------------------------- A168
  /** Peak hour per event type: each channel's busiest hour-of-day and
    * how concentrated it is there — the per-type argmax A122/q242's full
    * 168-cell heatmap makes the reader hunt for.
    *
    * Exactness: hours are calendar-free integer arithmetic (µs-in-day
    * div 3600e6); the peak is two-step max-then-earliest-hour (q272's
    * device); share one division. Scale: one (type, hour) partial agg,
    * ≤\|types\|·24 frames after. */
  def q308TypePeakHour(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select($"event_type",
        expr("(unix_micros(cast(ts as timestamp)) % 86400000000L)" +
          " div 3600000000L").as("hour"))
      .groupBy($"event_type", $"hour")
      .agg(count(lit(1)).as("n"))
    val tot = cells.groupBy($"event_type")
      .agg(sum($"n").as("total"), max($"n").as("peak_n"))
    tot.join(cells, Seq("event_type"))
      .filter($"n" === $"peak_n")
      .groupBy($"event_type", $"total", $"peak_n")
      .agg(min($"hour").as("peak_hour")) // earliest among exact ties
      .select($"event_type", $"total", $"peak_hour", $"peak_n",
        ($"peak_n".cast("double") / $"total".cast("double"))
          .as("peak_share"))
  }

  // ---------------------------------------------------------------- A169
  /** Order value by line-count band: do bigger baskets mean bigger
    * orders, and by how much per line? Joins the two marginals A59's
    * line-count histogram and A152's value bands each report alone.
    *
    * Exactness: line counts and cents exact; the two means are one
    * division each of exact totals. Scale: one order-keyed partial agg
    * (lineitem), join to orders on the natural key, ≤\|bands\| rollup. */
  def q309LinecountValue(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey").agg(count(lit(1)).as("nl"))
    val band = when($"nl" <= 2L, "a_1_2")
      .when($"nl" <= 4L, "b_3_4").otherwise("c_5_plus")
    Tables.orders(spark, dir)
      .join(lines, $"o_orderkey" === $"l_orderkey")
      .groupBy(band.as("line_band"))
      .agg(count(lit(1)).as("n_orders"),
        sum((money($"o_totalprice") * 100).cast("long")).as("cents"),
        sum($"nl").as("total_lines"))
      .select($"line_band", $"n_orders",
        ($"cents".cast("double") / $"n_orders".cast("double"))
          .as("mean_order_cents"),
        ($"cents".cast("double") / $"total_lines".cast("double"))
          .as("mean_line_cents"))
  }

  // ---------------------------------------------------------------- A170
  /** Exact value quantiles per event type — p50/p90/p99 of the event
    * value in integer cents at exact ranks ceil(q·n) (the EXACT
    * complement of A87/q174's approx sketch, and the per-type drill-down
    * of A24's global percentile): tail values drive alerting thresholds
    * and a sketch's error band is exactly what you can't see from the
    * sketch.
    *
    * Exactness: rank selection picks actual data cents — zero fp.
    * Scale: A157's cured posture — the per-type rank rides
    * [[Rank.groupRowNumberAndTotal]]'s range exchange on (type, cents,
    * id), so a hot event type spreads across range partitions instead of
    * one task's sort (the r14-flagged cliff). */
  def q310ValueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.events(spark, dir)
      .select($"event_type", $"event_id",
        (money($"value") * 100).cast("long").as("cents"))
    val ranked = Rank.groupRowNumberAndTotal(v, Seq("event_type"),
        Seq($"cents", $"event_id"), "rk", "n")
      .withColumn("r50", floor(($"n" + 1) / 2))
      .withColumn("r90", floor((lit(9) * $"n" + 9) / 10))
      .withColumn("r99", floor((lit(99) * $"n" + 99) / 100))
    ranked
      .filter($"rk" === $"r50" || $"rk" === $"r90" || $"rk" === $"r99")
      .groupBy($"event_type")
      .agg(max($"n").as("n_events"),
        min(when($"rk" === $"r50", $"cents")).as("p50_cents"),
        min(when($"rk" === $"r90", $"cents")).as("p90_cents"),
        min(when($"rk" === $"r99", $"cents")).as("p99_cents"))
  }

  // ---------------------------------------------------------------- A171
  /** Assortment breadth per brand: distinct part types, the size range
    * covered, and catalog price span — the dimension-table profile
    * (A35/q55 slices the type hierarchy; this asks how WIDE each brand's
    * catalog is, the merchandising question).
    *
    * Exactness: distinct/min/max on exact ints and exact price cents.
    * Scale: one ≤\|parts\| partial agg — a pure dimension scan. */
  def q311BrandBreadth(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"),
        countDistinct($"p_type").as("n_types"),
        min($"p_size").as("min_size"), max($"p_size").as("max_size"),
        min((money($"p_retailprice") * 100).cast("long")).as("min_cents"),
        max((money($"p_retailprice") * 100).cast("long")).as("max_cents"))

  // ---------------------------------------------------------------- A172
  /** Kaplan–Meier repeat-purchase survival: time from FIRST to SECOND
    * order per customer, with one-and-done customers CENSORED at the end
    * of the observation window — the churn curve read the statistically
    * honest way (A37/q83's retention buckets silently treat "no second
    * order yet" as "never", biasing early cohorts down). One row per
    * event time: at-risk count, events, and the survival estimate
    * S = Π(1 − dᵢ/nᵢ) over event times ≤ t.
    *
    * Exactness: gaps/censor times are exact integer days; dᵢ/nᵢ counts
    * exact; each factor is ONE division and the product folds LEFT-TO-
    * RIGHT over the event-time-sorted factor list in both engines
    * (Spark `aggregate` with init 1.0 ≡ DuckDB list_reduce over a
    * 1.0-prepended list — the q216/q255 identical-fold-order device,
    * multiplicative). Scale: per-customer rank windows (key-parallel),
    * then everything runs on the ≤\|distinct gaps\| aggregate; the
    * quadratic prefix-fold is confined to that bounded frame. */
  def q313Survival(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy($"o_custkey")
      .orderBy($"day", $"o_orderkey")
    val days = Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000L")
          .as("day"))
    // the observation horizon is the WHOLE dataset's last day — computing
    // it after the rk<=2 filter would understate censor times whenever the
    // latest activity is a 3rd+ order
    val horizon = days.agg(max($"day").as("h"))
    val ranked = days
      .withColumn("rk", row_number().over(byCust))
      .filter($"rk" <= 2)
    val per = ranked.groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_ord"),
        min(when($"rk" === 1, $"day")).as("d1"),
        min(when($"rk" === 2, $"day")).as("d2"))
      .crossJoin(broadcast(horizon))
      .select(
        when($"n_ord" >= 2, $"d2" - $"d1").as("event_gap"),
        when($"n_ord" < 2, $"h" - $"d1").as("censor_gap"))
    val times = per.groupBy(
        coalesce($"event_gap", $"censor_gap").as("t"))
      .agg(sum(when($"event_gap".isNotNull, 1L).otherwise(0L)).as("d"),
        sum(when($"event_gap".isNull, 1L).otherwise(0L)).as("c"))
    val byT = Window.orderBy($"t") // ≤|distinct gaps| frame
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy()
    val risk = times
      .withColumn("n_risk",
        sum($"d" + $"c").over(whole)
          - coalesce(sum($"d" + $"c").over(byT), lit(0L)))
      .filter($"d" > 0L) // KM steps only at event times
      .withColumn("factor",
        lit(1.0) - $"d".cast("double") / $"n_risk".cast("double"))
    // the ordered factor list rides a 1-row broadcast; each output row
    // folds its ≤t prefix left-to-right — identical order both engines
    val arr = risk
      .agg(sort_array(collect_list(struct($"t", $"factor"))).as("fs"))
    risk.crossJoin(broadcast(arr))
      .select($"t".as("gap_days"), $"n_risk", $"d".as("n_events"),
        aggregate(
          filter($"fs", x => x("t") <= $"t"),
          lit(1.0), (acc, x) => acc * x("factor")).as("survival"))
  }

  // ---------------------------------------------------------------- A173
  /** Simple exponential smoothing (α = 0.3) of daily value per event
    * type — the one-number "where is this channel trending" level that
    * A96/q194's seasonal-naïve forecast (pick last period) cannot give
    * when the series drifts inside a period.
    *
    * Exactness: the recurrence level ← level·0.7 + x·0.3 is inherently
    * SEQUENTIAL and fp — so both engines run the IDENTICAL left-to-right
    * fold over the day-sorted series (Spark `aggregate` ≡ DuckDB
    * list_reduce; constants written to parse to the same doubles), from
    * exact integer-cent daily sums. Scale: one partial-agged daily
    * rollup; the per-type fold runs on ≤\|days\| arrays — the bounded-
    * frame exception, and the honest cost of a sequential recurrence
    * (A95/q196's max-plus trick does not apply to a multiplicative
    * fold). */
  def q314SesLevel(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type",
        date_trunc("day", $"ts").cast(TimestampNTZType).as("day"))
      .agg(sum((money($"value") * 100).cast("long")).as("cents"))
    daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct($"day", $"cents"))).as("xs"))
      .select($"event_type", $"n_days",
        element_at($"xs", -1)("cents").as("last_cents"),
        aggregate(
          // length n_days-1 (0 for a single-day series): fold the tail —
          // a fixed cap would silently truncate past it and diverge from
          // the oracle's whole-list fold
          slice($"xs", lit(2), greatest($"n_days" - 1, lit(0L)).cast("int")),
          element_at($"xs", 1)("cents").cast("double"),
          (acc, x) => acc * lit(0.7) + x("cents").cast("double") * lit(0.3))
          .as("ses_level"))
  }

  // ---------------------------------------------------------------- A174
  /** Least-squares changepoint in the daily-revenue series: the split
    * day minimizing SSE(left) + SSE(right) — "when did the level
    * change?", the point estimate behind A144/q278's yes/no randomness
    * verdict and A95/q196's known-reference CUSUM (this needs neither a
    * reference nor a hypothesis).
    *
    * Exactness: prefix sums of cents and cents² are EXACT decimal
    * integers (integer addition is order-independent — no fp-window
    * fold hazard), each candidate's cost is a fixed fp expression of
    * them, costs are therefore IEEE-identical cross-engine, and the
    * argmin tie-breaks to the earliest day (two-step min-then-filter).
    * Scale: one daily rollup; the prefix windows and argmin run on the
    * ≤\|days\| frame. */
  def q315Changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderdate".as("day"))
      .agg(sum((money($"o_totalprice") * 100).cast("long")).as("x"))
    val byDay = Window.orderBy($"day") // ≤|days| frame
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    val pre = daily
      .withColumn("t", count(lit(1)).over(byDay))
      .withColumn("p", sum($"x".cast(DecimalType(38, 0))).over(byDay))
      .withColumn("q",
        sum(($"x".cast(DecimalType(19, 0)) * $"x").cast(DecimalType(38, 0)))
          .over(byDay))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("pn", sum($"x".cast(DecimalType(38, 0))).over(whole))
      .withColumn("qn",
        sum(($"x".cast(DecimalType(19, 0)) * $"x").cast(DecimalType(38, 0)))
          .over(whole))
      .filter($"t" < $"n") // a split needs a non-empty right side
    val td = $"t".cast("double"); val nd = $"n".cast("double")
    val pd = $"p".cast("double"); val qd = $"q".cast("double")
    val pnd = $"pn".cast("double"); val qnd = $"qn".cast("double")
    val cost = (qd - pd * pd / td) +
      ((qnd - qd) - (pnd - pd) * (pnd - pd) / (nd - td))
    val scored = pre.withColumn("cost", cost)
      .withColumn("mean_left", pd / td)
      .withColumn("mean_right", (pnd - pd) / (nd - td))
    val best = scored.agg(min($"cost").as("best_cost"))
    scored.crossJoin(broadcast(best))
      .filter($"cost" === $"best_cost")
      .groupBy($"n".as("n_days"), $"best_cost")
      .agg(min($"day").as("split_day"), // earliest among exact ties
        min_by(struct($"mean_left", $"mean_right"), $"day").as("__m"))
      .select($"split_day", $"n_days", $"best_cost",
        $"__m.mean_left".as("mean_left"),
        $"__m.mean_right".as("mean_right"))
  }

  // ---------------------------------------------------------------- A175
  /** Jackknife nation influence on mean order value: for each nation,
    * the leave-that-nation-out mean vs the overall mean — DETERMINISTIC
    * resampling diagnostics (no RNG to reconcile cross-engine, unlike a
    * bootstrap): which geography is actually moving the global KPI, the
    * question A121/q166's market shares (contribution, not influence)
    * don't answer.
    *
    * Exactness: all sums/counts exact; overall, leave-one-out mean, and
    * influence are fixed fp expressions of them. Scale: one nation-keyed
    * partial agg via the orders ⋈ customer natural-key join; the 1-row
    * global totals broadcast onto the ≤\|nations\| frame. */
  def q316Jackknife(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("ni"),
        sum((money($"o_totalprice") * 100).cast("long")).as("si"))
    val tot = per.agg(sum($"ni").as("n"), sum($"si").as("s"))
    per.crossJoin(broadcast(tot)) // 1 row
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), $"ni".as("n_orders"),
        ($"s".cast("double") / $"n".cast("double")).as("overall_mean"),
        (($"s" - $"si").cast("double") / ($"n" - $"ni").cast("double"))
          .as("loo_mean"),
        ((($"s" - $"si").cast("double") / ($"n" - $"ni").cast("double"))
          - ($"s".cast("double") / $"n".cast("double"))).as("influence"))
  }

  // ---------------------------------------------------------------- A176
  /** Mann–Kendall trend test on the daily-revenue series: S = Σ sign
    * over all day pairs, tie-corrected variance, and the z statistic —
    * the NONPARAMETRIC monotone-trend verdict completing the series
    * toolkit (A144 tests randomness, A174 locates a level change; this
    * asks "is there a drift at all" with no distributional assumption).
    *
    * Exactness: S and the tie sizes are exact integers; the variance
    * numerator n(n−1)(2n+5) − Σt(t−1)(2t+5) is exact DECIMAL(38,0); z
    * is a fixed fp expression with the standard ±1 continuity
    * correction. Scale: the O(\|days\|²) pair join runs on the DAILY
    * AGGREGATE (≈2.4k rows → ~3M pairs, constant in fact size — days
    * don't scale with rows), never on the fact. */
  def q317MannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.Lineage.truncate(
      Tables.orders(spark, dir)
        .groupBy($"o_orderdate".as("day"))
        .agg(sum((money($"o_totalprice") * 100).cast("long")).as("x")),
      eager = false).df
    val a = daily.select($"day".as("da"), $"x".as("xa"))
    val b = daily.select($"day".as("db"), $"x".as("xb"))
    val s = a.join(b, $"da" < $"db")
      .agg(sum(signum(($"xb" - $"xa").cast("double")).cast("long")).as("s"))
    val ties = daily.groupBy($"x").agg(count(lit(1)).as("t"))
      .filter($"t" > 1L)
      .agg(coalesce(sum(($"t" * ($"t" - 1) * (lit(2) * $"t" + 5))
        .cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
        .as("tie_term"))
    val n0 = daily.agg(count(lit(1)).as("n"))
    val j = s.crossJoin(broadcast(ties)).crossJoin(broadcast(n0))
      .withColumn("var_num",
        ($"n".cast(DecimalType(38, 0)) * ($"n" - 1) * (lit(2) * $"n" + 5))
          - $"tie_term")
    val sd = sqrt($"var_num".cast("double") / 18.0)
    j.select($"n".as("n_days"), $"s", sd.as("sd_s"),
      when($"s" > 0L, ($"s" - 1L).cast("double") / sd)
        .when($"s" < 0L, ($"s" + 1L).cast("double") / sd)
        .otherwise(lit(0.0)).as("z"))
  }

  // ---------------------------------------------------------------- A177
  /** Theil–Sen robust trend slope of daily revenue: the MEDIAN of all
    * pairwise slopes (cents/day) — the magnitude companion to A176's
    * verdict, immune to the outlier days that drag a least-squares fit
    * (A46/q98) around.
    *
    * Exactness: each slope is ONE IEEE division of exact integers —
    * identical cross-engine — and the median is a LOWER-median rank
    * selection over the slope VALUES (ties carry one value; no fp
    * averaging of middles). Scale: the pair space is the O(\|days\|²)
    * bounded aggregate again; the global rank routes through
    * [[Rank.globalRowNumberAndTotal]] (range exchange + offset
    * broadcast — no single-task sort of the ~3M slopes). */
  def q318TheilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.Lineage.truncate(
      Tables.orders(spark, dir)
        .groupBy($"o_orderdate".as("day"))
        .agg(sum((money($"o_totalprice") * 100).cast("long")).as("x"))
        .select(
          expr("unix_micros(cast(day as timestamp)) div 86400000000L")
            .as("d"), $"x"),
      eager = false).df
    // spread the O(|days|²) slope generation: `daily` checkpoints as ONE
    // partition (it is tiny), so the broadcast pair join would emit all
    // ~3M slopes from one task — fan the probe side to session width
    // first (2.4k narrow rows, a no-cost exchange)
    val parts = graft.GraftSession.shufflePartitions(spark)
    val a = daily.repartition(parts, $"d")
      .select($"d".as("da"), $"x".as("xa"))
    val b = daily.select($"d".as("db"), $"x".as("xb"))
    val slopes = a.join(b, $"da" < $"db")
      .select((($"xb" - $"xa").cast("double")
        / ($"db" - $"da").cast("double")).as("slope"))
    // lower median = order statistic at rank (N+1) div 2: the selection
    // helper skips the full-frame window sort AND the re-exchange the
    // rank form paid (r19: 28.5 MB re-shuffled + ~6 s sorting 2.9M
    // slopes to keep exactly one row)
    val (kth, total) = Rank.kthSmallest(
      slopes, $"slope", n => (n + 1) / 2, outCol = "sen_slope")
    kth.select(lit(total).as("n_pairs"), $"sen_slope")
  }

  // ---------------------------------------------------------------- A178
  /** Laspeyres price index per month: Σ pₜ·q₀ / Σ p₀·q₀ over the parts
    * traded in BOTH the base month (the dataset's first) and month t —
    * the economics-grade "are prices rising" number that A134/q264's
    * per-part dispersion and A160/q297's grid don't aggregate to,
    * because it holds the BASKET fixed.
    *
    * Exactness: unit prices are one IEEE division of exact integers per
    * (part, month) — identical rationals → identical doubles; each
    * pₜ·q₀ term is a fixed fp product; and the cross-part sums fold in
    * CANONICAL partkey order via the ordered cumulative window (q216's
    * rule — a plain fp SUM folds engine-dependently; oracle mirrors
    * with list_reduce). Scale: one (part, month) partial agg; the base
    * month broadcasts ≤\|parts\| rows; folds run per month over
    * \|parts\|-bounded frames (key-parallel across months). */
  def q319PriceIndex(spark: SparkSession, dir: String): DataFrame = {
    // the (part, month) rollup feeds BOTH the probe side and the base-
    // basket broadcast — truncate so the fact aggregates once, instead of
    // a second full lineitem scan inside the broadcast branch
    val pm = graft.Lineage.truncate(
      Tables.lineitem(spark, dir)
        .groupBy($"l_partkey".as("pk"),
          date_trunc("month", $"l_shipdate").cast(TimestampNTZType)
            .as("month"))
        .agg(sum((money($"l_extendedprice") * 100).cast("long")).as("cents"),
          sum($"l_quantity".cast("long")).as("qty"))
        .withColumn("unit", $"cents".cast("double") / $"qty".cast("double")),
      eager = false).df
    val base0 = pm.agg(min($"month").as("m0"))
    val base = pm.join(broadcast(base0), $"month" === $"m0")
      .select($"pk".as("bpk"), $"unit".as("p0"), $"qty".as("q0"))
    val terms = pm.join(broadcast(base), $"pk" === $"bpk")
      .select($"month", $"pk",
        ($"unit" * $"q0".cast("double")).as("num_term"),
        ($"p0" * $"q0".cast("double")).as("den_term"))
    val fold = Window.partitionBy($"month").orderBy($"pk") // ≤|parts| frame
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    terms
      .withColumn("cnum", sum($"num_term").over(fold))
      .withColumn("cden", sum($"den_term").over(fold))
      .groupBy($"month")
      .agg(count(lit(1)).as("n_parts"), max($"cnum").as("num"),
        max($"cden").as("den"))
      .select($"month", $"n_parts", ($"num" / $"den").as("laspeyres"))
  }

  // ---------------------------------------------------------------- A179
  /** Local bestsellers: each supplier nation's top part by shipped
    * quantity, with its share of the nation's volume — the per-geography
    * argmax that A83/q166's share matrices don't surface (a merchandiser
    * asks "what do we actually move in Kenya", not for the full grid).
    *
    * Exactness: quantities exact longs; the argmax is two-step
    * max-then-least-partkey (q272's device); share one division. Scale:
    * one (nation, part) partial agg through the broadcast supplier
    * (key, nation) side; everything after runs on that aggregate. */
  def q320LocalBestsellers(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey", $"l_partkey")
      .agg(sum($"l_quantity".cast("long")).as("qty"))
    val tot = cells.groupBy($"s_nationkey")
      .agg(sum($"qty").as("nation_qty"), max($"qty").as("top_qty"))
    tot.join(cells, Seq("s_nationkey"))
      .filter($"qty" === $"top_qty")
      .groupBy($"s_nationkey", $"nation_qty", $"top_qty")
      .agg(min($"l_partkey").as("top_partkey")) // least among exact ties
      .join(broadcast(Tables.nation(spark, dir)),
        $"s_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), $"top_partkey", $"top_qty",
        $"nation_qty",
        ($"top_qty".cast("double") / $"nation_qty".cast("double"))
          .as("top_share"))
  }

  // ---------------------------------------------------------------- A180
  /** Customer active-span histogram: last-order minus first-order day per
    * customer, bucketed by whole years — how long relationships actually
    * last (the lifetime-LENGTH distribution; A172's survival curve times
    * the FIRST repeat, this measures the whole arc).
    *
    * Exactness: spans are exact integer days; the year bucket is integer
    * division; counts exact, share one division. Scale: one customer-
    * keyed partial agg, ≤\|buckets\| rollup + 1-row total broadcast. */
  def q321ActiveSpanHist(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.orders(spark, dir)
      .select($"o_custkey",
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000L")
          .as("day"))
      .groupBy($"o_custkey")
      .agg((max($"day") - min($"day")).as("span_days"))
      .select($"o_custkey", $"span_days",
        expr("span_days div 365L").as("span_years"))
    val hist = spans.groupBy($"span_years")
      .agg(count(lit(1)).as("n_customers"))
    val tot = hist.agg(sum($"n_customers").as("total"))
    hist.crossJoin(broadcast(tot))
      .select($"span_years", $"n_customers",
        ($"n_customers".cast("double") / $"total".cast("double"))
          .as("share"))
  }

  // ---------------------------------------------------------------- A181
  /** Seasonality STRENGTH of daily revenue — the variance-decomposition
    * η² = 1 − SSW/SST with days grouped by calendar month-of-year: ONE
    * number for "how much of daily variation the season explains",
    * where A71/q145's per-month index shows the shape but not how much
    * it matters and A176/q317 tests monotone drift, not periodicity.
    *
    * Exactness: per-group Σx/Σx² are exact DECIMAL integers; each
    * group's within-SS is a fixed fp expression; the cross-group SSW sum
    * folds in CANONICAL month order via the ordered cumulative window
    * (q216's rule; oracle via list_reduce — 12 terms, but the rule is
    * the rule); SST is one fixed expression of the global sums. Scale:
    * one daily rollup, then everything on ≤12-row frames. */
  def q322SeasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderdate".as("day"))
      .agg(sum((money($"o_totalprice") * 100).cast("long")).as("x"))
      .select(month($"day").cast("long").as("moy"), $"x")
    val grp = daily.groupBy($"moy")
      .agg(count(lit(1)).as("n"),
        sum($"x".cast(DecimalType(38, 0))).as("p"),
        sum(($"x".cast(DecimalType(19, 0)) * $"x").cast(DecimalType(38, 0)))
          .as("q"))
      .withColumn("ssw",
        $"q".cast("double")
          - $"p".cast("double") * $"p".cast("double") / $"n".cast("double"))
    val fold = Window.orderBy($"moy") // ≤12-row frame
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grp.withColumn("cssw", sum($"ssw").over(fold))
      // the FOLD-FINAL value, not max: an n=1 month's within-SS can land
      // a hair below zero in fp (p·p re-rounds where Σx² was exact), so
      // the cumulative sum need not be monotone
      .agg(sum($"n").as("n_days"), max_by($"cssw", $"moy").as("ssw_total"),
        sum($"p").as("pn"), sum($"q").as("qn"),
        count(lit(1)).as("n_months"))
      .select($"n_days", $"n_months",
        (lit(1.0) - $"ssw_total"
          / ($"qn".cast("double") - $"pn".cast("double")
            * $"pn".cast("double") / $"n_days".cast("double")))
          .as("seasonal_strength"))
  }

  // `$"col"` interpolator without a SparkSession in scope.
  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
