package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.JoinMv

/** In-memory reference for a [[JoinMv]] over the specs' orders/customers
  * shape: the latest-version-wins state of each side (a batch row wins
  * over the stored row only with a higher version; a winning delete drops
  * the key), and the left-join MV, index and changelog they imply — all
  * computed from scratch, without graft. */
final case class JoinMvModel(
    facts: Map[Long, (Long, Long, Double)] = Map.empty, // pk -> (ver, fk, amount)
    dims: Map[Long, (Long, String)] = Map.empty) {       // pk -> (ver, name)
  import JoinMvModel._

  def applied(fa: Seq[Fact], fb: Seq[Dim]): JoinMvModel = JoinMvModel(
    merge[(Long, Long, Double)](facts,
      fa.map(f => (f._1, f._2, f._3, (f._2, f._4, f._5))), _._1),
    merge[(Long, String)](dims, fb.map(d => (d._1, d._2, d._3, (d._2, d._4))), _._1))

  def mv: Map[Long, MvRow] = facts.map { case (pk, (ver, fk, amt)) =>
    pk -> (ver, fk, amt, dims.get(fk).map(_._2))
  }

  def index: Set[(Long, Long)] = facts.toSeq.map { case (pk, (_, fk, _)) => (fk, pk) }.toSet

  /** The changelog a batch taking the MV from `before` to this state
    * emits: (pk, op, new row, old row). */
  def changesFrom(before: JoinMvModel): Set[Change] = {
    val (o, n) = (before.mv, mv)
    (o.keySet ++ n.keySet).toSeq.flatMap { k =>
      (o.get(k), n.get(k)) match {
        case (None, Some(r)) => Some((k, "I", Some(r), None))
        case (Some(r), None) => Some((k, "D", None, Some(r)))
        case (Some(a), Some(b)) if a != b => Some((k, "U", Some(b), Some(a)))
        case _ => None
      }
    }.toSet
  }
}

object JoinMvModel {
  type Fact = (Long, Long, String, Long, Double) // order_id, aver, aop, cust_id, amount
  type Dim = (Long, Long, String, String)        // cust_pk, bver, bop, cust_name
  type MvRow = (Long, Long, Double, Option[String]) // aver, cust_id, amount, cust_name
  type Change = (Long, String, Option[MvRow], Option[MvRow])

  /** Per key, the highest version among the stored row and the batch's
    * rows wins; a winning delete drops the key. */
  private def merge[V](state: Map[Long, V], rows: Seq[(Long, Long, String, V)],
      ver: V => Long): Map[Long, V] =
    rows.groupBy(_._1).foldLeft(state) { case (s, (k, rs)) =>
      val top = rs.maxBy(_._2)
      if (s.get(k).exists(v => ver(v) >= top._2)) s
      else if (top._3 == "delete") s - k
      else s + (k -> top._4)
    }

  def factsDf(spark: SparkSession, rows: Seq[Fact]): DataFrame = {
    import spark.implicits._
    rows.toDF("order_id", "aver", "aop", "cust_id", "amount")
  }
  def dimsDf(spark: SparkSession, rows: Seq[Dim]): DataFrame = {
    import spark.implicits._
    rows.toDF("cust_pk", "bver", "bop", "cust_name")
  }

  def apply(root: String, nBuckets: Int, fa: DataFrame, fb: DataFrame,
      batchId: Long): Unit =
    JoinMv.applyBatch(s"$root/jmv", "order_id", "aver", "aop", "cust_id",
      "cust_pk", "bver", "bop", nBuckets = nBuckets,
      changelogPath = Some(s"$root/cl"))(fa, fb, batchId)

  /** What the four tables and the batch's changelog hold. */
  final case class Stored(mv: Map[Long, MvRow], left: Map[Long, (Long, Long, Double)],
      right: Map[Long, (Long, String)], index: Set[(Long, Long)],
      changelog: Option[Set[Change]])

  def stored(spark: SparkSession, root: String, batchId: Long): Stored = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val clDir = new org.apache.hadoop.fs.Path(s"$root/cl/batch=$batchId")
    Stored(
      spark.read.parquet(s"$root/jmv/mv")
        .select($"order_id", $"aver", $"cust_id", $"amount", $"cust_name")
        .as[(Long, Long, Long, Double, Option[String])].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap,
      spark.read.parquet(s"$root/jmv/left")
        .select($"order_id", $"aver", $"cust_id", $"amount")
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap,
      spark.read.parquet(s"$root/jmv/right")
        .select($"cust_pk", $"bver", $"cust_name")
        .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap,
      spark.read.parquet(s"$root/jmv/left_by_fk")
        .select($"__fk", $"__pk").as[(Long, Long)].collect().toSet,
      if (!fs.exists(clDir)) None
      else Some(spark.read.parquet(clDir.toString)
        .select($"order_id", $"__op",
          $"__row.aver", $"__row.cust_id", $"__row.amount", $"__row.cust_name",
          $"__old.aver", $"__old.cust_id", $"__old.amount", $"__old.cust_name")
        .collect().map { r =>
          def img(i: Int): Option[MvRow] =
            if (r.isNullAt(i) && r.isNullAt(i + 1)) None
            else Some((r.getLong(i), r.getLong(i + 1), r.getDouble(i + 2),
              Option(r.getString(i + 3))))
          (r.getLong(0), r.getString(1), img(2), img(6)): Change
        }.toSet))
  }
}
