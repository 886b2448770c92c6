package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Degree-oriented wedge machinery for the near-dup-graph diagnostics
 * (q85 / q104 / q193).
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
}
