package graft

import java.nio.file.Files

import graft.JoinMvModel.{Dim, Fact}
import graft.streaming.BucketedTable

/** [[graft.streaming.JoinMv]] against a from-scratch recomputation, over
  * batch shapes a workload touching every bucket never produces: a fact
  * delta confined to a strict subset of the buckets, dim-only batches
  * whose changes fan out to facts in buckets the fact delta left alone
  * (their rows come from disk, not from the merged frames), fk moves,
  * deletes on both sides, and keys listed twice within a batch. After
  * every round the MV, both entity tables, the (fk, pk) index and the
  * round's changelog must equal what [[JoinMvModel]] computes, under
  * either lineage posture: with the durable one every materialization of
  * the batch is read back from its spill files. */
class JoinMvDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private val nBuckets = 8

  test("seeded rounds over a subset of buckets match a from-scratch recomputation") {
    seededRounds()
  }

  test("the same rounds under the durable lineage posture") {
    withDurableLineage(_ => seededRounds())
  }

  private def seededRounds(): Unit = {
    val root = Files.createTempDirectory("jmv-diff-").toString
    val rnd = new scala.util.Random(8128L)
    val factKeys = (0L until 64L).toIndexedSeq
    val dimKeys = (100L until 116L).toIndexedSeq // 116, 117: never present
    val bucketOf = factKeys.toDF("k")
      .select($"k", BucketedTable.bucketOf(Seq($"k"), nBuckets))
      .as[(Long, Int)].collect().toMap
    var version = 0L
    def nextVer(): Long = { version += 1; version }
    def someDim(): Long =
      if (rnd.nextInt(8) == 0) 116L + rnd.nextInt(2) else dimKeys(rnd.nextInt(dimKeys.size))
    def fact(k: Long, op: String = "upsert"): Fact =
      (k, nextVer(), op, someDim(), rnd.nextInt(1000).toDouble)
    def dim(k: Long, op: String = "upsert"): Dim = (k, nextVer(), op, s"d$k-v$version")

    var model = JoinMvModel()
    def round(id: Long, fa: Seq[Fact], fb: Seq[Dim]): Unit = {
      val before = model
      model = model.applied(fa, fb)
      JoinMvModel.apply(root, nBuckets, JoinMvModel.factsDf(spark, rnd.shuffle(fa)),
        JoinMvModel.dimsDf(spark, rnd.shuffle(fb)), id)
      val got = JoinMvModel.stored(spark, root, id)
      assert(got.left === model.facts, s"round $id: left diverged")
      assert(got.right === model.dims, s"round $id: right diverged")
      assert(got.index === model.index, s"round $id: index out of sync with left")
      assert(got.mv === model.mv, s"round $id: MV diverged")
      val changes = model.changesFrom(before)
      assert(got.changelog.getOrElse(Set.empty) === changes, s"round $id: changelog")
    }

    round(0L, factKeys.map(fact(_)), dimKeys.map(dim(_)))
    val buckets = factKeys.map(bucketOf).distinct.sorted
    for (r <- 1L to 9L) {
      // the buckets the fact delta may touch: two of eight
      val sub = rnd.shuffle(buckets).take(2).toSet
      val inSub = factKeys.filter(k => sub.contains(bucketOf(k)))
      val fa: Seq[Fact] = (r % 3) match {
        case 0 => Nil // dim-only
        case _ =>
          val picked = rnd.shuffle(inSub).take(4)
          // the first key twice (its later version wins), one delete, the
          // rest fk moves
          picked.headOption.toSeq.map(fact(_)) ++
            picked.zipWithIndex.map { case (k, i) =>
              fact(k, if (i == 1) "delete" else "upsert")
            }
      }
      // dims referenced by facts OUTSIDE the fact delta's buckets: the
      // fan-out reads those facts from disk
      val fanOut = model.facts.collect {
        case (k, (_, fk, _)) if !sub.contains(bucketOf(k)) && dimKeys.contains(fk) => fk
      }.toSeq.distinct.sorted
      val fb: Seq[Dim] = (r % 3) match {
        case 1 => Nil // fact-only
        case _ =>
          val upd = rnd.shuffle(fanOut).take(2)
          val del = rnd.shuffle(dimKeys.filterNot(upd.contains)).take(1)
          val back = dimKeys.filterNot(model.dims.contains).take(1) // re-insert
          upd.map(dim(_)) ++ upd.take(1).map(dim(_)) ++
            del.map(dim(_, "delete")) ++ back.map(dim(_))
      }
      if (fa.nonEmpty)
        assert(fa.map(f => bucketOf(f._1)).toSet.subsetOf(sub))
      if (fb.nonEmpty && r % 3 == 0)
        assert(fb.exists(d => fanOut.contains(d._1)), "no fan-out this round")
      round(r, fa, fb)
    }
  }
}
