package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Graph kernels over pair lists: HashMin connected components (q59's
 * duplicate clusters, q180's entity resolution) and degree-oriented wedge
 * machinery for the near-dup-graph diagnostics (q85 / q104 / q193).
 *
 * The naive node-iterator keys the wedge self-join on the shared middle
 * vertex, so one boilerplate hub of degree d does d² pair work in a single
 * task — a full shuffle landing on one skewed key. The classic fix for
 * TRIANGLE enumeration is degree orientation: point every undirected edge
 * from its (degree, id)-smaller endpoint to its larger one. Each triangle
 * then has exactly one vertex with both triangle edges outgoing, wedges are
 * enumerated from OUT-edges only, and per-key wedge work drops from deg² to
 * outdeg², with max outdeg = O(√E) for any graph — a hub's edges all point
 * INTO it, so the hub generates no wedges at all. Orientation is a counting
 * identity: every triangle is still found exactly once (from its ≺-minimal
 * vertex), so downstream results are unchanged rows.
 *
 * For ALL-WEDGE counting (q193's common neighbors) orientation is NOT an
 * identity — a wedge centered on a hub must still be enumerated no matter
 * how its edges point — so the hub-skew fix there is triangle-salted pair
 * generation ([[Skew.saltedSelfPairs]] keyed on the center), which spreads
 * one center's deg² pairs over salts² reducers without changing the pair
 * set.
 *
 * Reference: TiFlink has no graph surface; these diagnostics extend the
 * LLM-pipeline set (SURVEY §2 C36/C41/C84).
 */
object Graph {

  /** Symmetric degree table `(id, deg)` of a canonical `a < b` pair list. */
  def degrees(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(col(aCol).as("id"))
      .unionAll(pairs.select(col(bCol).as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))

  /** Both directions `(src, dst)` of a canonical pair list via ONE explode
    * — row-identical to `pairs.select(a as src, b as dst) UNION ALL
    * pairs.select(b as src, a as dst)`, but with a single plan reference
    * to `pairs`: the union form embeds the (often expensive) pair pipeline
    * twice, and only its exchanges are deduplicated by ReuseExchange — the
    * join/verify stages above them execute once per branch (guide §2.4:
    * remove duplicate work before tuning anything else). */
  def symmetrized(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** Orient a canonical (`a < b`) undirected edge list by the total order
    * ≺ = (degree, id): each edge leaves its ≺-smaller endpoint. Output
    * `(src, dst, deg_dst)` — the dst degree rides along so a wedge's two
    * far endpoints can be ≺-canonicalized without another degree join.
    * Degree joins are hash joins, unforced (the degree table is
    * corpus-derived — q119's rule). */
  def orientByDegree(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val deg = degrees(pairs, aCol, bCol)
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col(aCol) < col(bCol))
    pairs
      .join(deg.select(col("id").as(aCol), col("deg").as("__da")), Seq(aCol))
      .join(deg.select(col("id").as(bCol), col("deg").as("__db")), Seq(bCol))
      .select(
        when(aFirst, col(aCol)).otherwise(col(bCol)).as("src"),
        when(aFirst, col(bCol)).otherwise(col(aCol)).as("dst"),
        when(aFirst, col("__db")).otherwise(col("__da")).as("deg_dst"))
  }

  /** Every triangle of the canonical pair list, exactly once, as the
    * id-SORTED triple `(va, vb, vc)` — the same rows the naive id-order
    * node-iterator emits, enumerated hub-safely: wedges come from pairs of
    * OUT-edges of the oriented list (per-key work outdeg² ≤ O(E), max
    * outdeg O(√E)), ≺-canonicalized via the carried dst degrees, and closed
    * by a semi-join on the oriented (b ≺ c) edge key. The oriented list
    * feeds three plan references (both wedge sides + closure), so it is
    * materialized once — and its own upstream (the pair scorer) is the
    * caller's to materialize. */
  def triangles(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val o = graft.Lineage.truncate(
      orientByDegree(pairs, aCol, bCol), eager = false).df
    val wedges = o.as("x").join(o.as("y"),
      col("x.src") === col("y.src") &&
        (col("x.deg_dst") < col("y.deg_dst") ||
          (col("x.deg_dst") === col("y.deg_dst") &&
            col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("a"),
        col("x.dst").as("b"), col("y.dst").as("c"))
    wedges.join(o.as("z"),
      col("b") === col("z.src") && col("c") === col("z.dst"), "left_semi")
      .select(sort_array(array(col("a"), col("b"), col("c"))).as("t"))
      .select(col("t").getItem(0).as("va"), col("t").getItem(1).as("vb"),
        col("t").getItem(2).as("vc"))
  }

  /** Connected components of an undirected pair list by HashMin label
    * propagation: every node that appears in `pairs` is labelled with the
    * min id of its component. Returns the FINAL round's materialization,
    * columns `(id, label)`; the caller reads `.df` and releases it when
    * done (or leaves it to `Lineage.drainLeaked` between queries). Fails
    * loudly when `maxIters` rounds do not reach the fixpoint: silent
    * non-convergence would diverge from the exact closure.
    *
    * Scale shape: iterative hash joins on the edge list — O(E) shuffled
    * per round, rounds = component diameter (near-dup and ER components
    * are shallow; `maxIters` guards degenerate chains). Lineage is
    * truncated every round ([[graft.Lineage]]), without which the plan
    * doubles per iteration; under the durable posture each round spills
    * durably, so a 1000-executor run losing one executor resumes from the
    * last round instead of restarting the whole loop. Each round is
    * released as soon as the next lands, and the edges once the loop
    * ends. The only driver-side values are the convergence sum, the label
    * count and the loop bound — aggregates, never data. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int): graft.Lineage.Materialized = {
    // symmetrize via ONE explode, not unionAll of two plan references: the
    // union's branches each contain the full pair pipeline, and only its
    // exchanges are deduplicated (ReuseExchange) — q59's salted join +
    // intersect kernel executed TWICE per r19 profiling
    val edgesM0 = graft.Lineage.truncate( // materialize once; reused below
      symmetrized(pairs, aCol, bCol)
        // lazy is safe HERE only because edgesM's truncate below is EAGER
        // and runs before edgesM0.release()
        .repartition(col("src")), eager = false)
    // SELF-LOOPS make each HashMin round ONE join + ONE aggregate:
    // min over in-neighbors INCLUDING self ≡ least(own, neighbor-min),
    // so the per-round left-join-and-least (one more exchange + its AQE
    // stage-jobs every round) disappears. Built from the materialized
    // edge frame (two cheap checkpoint reads), then materialized itself —
    // the loop must join a checkpoint, not re-run the union each round.
    val edgesM = graft.Lineage.truncate(
      edgesM0.df.unionAll(edgesM0.df.select(col("dst")).distinct()
        .select(col("dst").as("src"), col("dst"))))
    edgesM0.release()
    // CONVERGENCE: labels only ever DECREASE under min-propagation, so the
    // label sum (exact DECIMAL — never overflows at any corpus size) is
    // strictly monotone until the fixpoint; sum unchanged ⟺ no label
    // changed. The sum rides each round's materialization as an observed
    // metric — still one Spark job per round, and the frame carries no
    // __old column or change flag.
    def labelSum = coalesce(sum(col("label")
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))), lit(0L)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("lsum")
    try {
      val edges = edgesM.df
      // init = the first HashMin round pre-applied (min of self and direct
      // neighbors via the self-loops, one aggregation): near-dup components
      // are cliques, so this alone is usually the fixpoint and the loop's
      // first iteration just confirms the sum is unchanged
      val obs0 = org.apache.spark.sql.Observation()
      var labelsM = graft.Lineage.truncate(
        edges.groupBy(col("dst").as("id")).agg(min(col("src")).as("label"))
          .observe(obs0, labelSum, count(lit(1)).as("ln")))
      var prevSum = obs0.get("lsum")
      // The label table's row count is CONSTANT across rounds (one row per
      // node) — observed once on the init materialization. When it provably
      // fits the session's broadcast threshold, hint each round's join:
      // checkpoint scans lose partitioning info, so the unhinted join
      // re-exchanges BOTH materialized sides every round (plus their AQE
      // stage-jobs) just for AQE to usually pick broadcast anyway at
      // runtime. Scale guard (r19 verdict item 7): a corpus-scale label
      // table exceeds the budget and keeps the shuffle join.
      val hintBroadcast = obs0.get("ln").asInstanceOf[Long] <=
        graft.GraftSession.broadcastRowBudget(edges.sparkSession)
      try {
        var changed = true
        var iter = 0
        while (changed && iter < maxIters) {
          val obs = org.apache.spark.sql.Observation()
          val labelsB = if (hintBroadcast) broadcast(labelsM.df) else labelsM.df
          val nextM = graft.Lineage.truncate(
            edges.join(labelsB, col("src") === col("id"))
              .groupBy(col("dst").as("id"))
              .agg(min(col("label")).as("label"))
              .observe(obs, labelSum))
          val newSum = obs.get("lsum")
          changed = newSum != prevSum
          prevSum = newSum
          labelsM.release() // the prior round feeds nothing anymore
          labelsM = nextM
          iter += 1
        }
        if (changed)
          throw new IllegalStateException(
            s"label propagation did not converge in $maxIters rounds; " +
              "raise maxIters for very long chains")
        labelsM
      } catch { case e: Throwable => labelsM.release(); throw e }
    } finally edgesM.release()
  }
}
