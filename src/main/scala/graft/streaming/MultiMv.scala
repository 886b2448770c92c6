package graft.streaming

import org.apache.spark.sql.DataFrame

/**
 * One source stream fanning out to N materialized views that become visible
 * ATOMICALLY at the same epoch — the multi-sink topology a TiFlink user gets
 * from several MVs over one changelog, with the cross-MV consistency its
 * coordinator provides (coordinator/Transaction.java: prewrite everything,
 * commit at one timestamp): a reader pinning epoch e sees EVERY view at e,
 * never view A at batch 7 joined to view B at batch 6.
 *
 * Each micro-batch: derive every view's delta from the one batch (the
 * source is read once per batch, not once per view), merge latest-by-key
 * into that view's prior snapshot, then [[SnapshotStore.publishAll]] —
 * phase 1 stages every store (a failure there publishes nothing anywhere),
 * phase 2 commits all pointers at `batchId`.
 *
 * Single-writer contract: the owning stream is the only writer of the
 * stores under `basePath` (foreachBatch serializes batches, and replays are
 * absorbed by the store's committed-epoch no-op). Concurrent FOREIGN
 * writers would race the prior-state resolution — they are rejected by the
 * per-store lease at publish time, loudly.
 *
 * Scale: per-view work is one delta transform + one latest-by-key merge —
 * the same cost as N independent [[SnapshotStore.upsertSink]]s; the
 * atomicity adds only lease acquisition and pointer flips. At 100 TB each
 * view's merge swaps in the O(delta) bucketed path (B10/B20).
 */
object MultiMv {

  /** One maintained view: micro-batch → delta rows, merged latest-by-key
    * on `keys` ordered by `versionCol`. */
  final case class ViewDef(name: String, delta: DataFrame => DataFrame,
      keys: Seq[String], versionCol: String)

  /** foreachBatch body maintaining all `views` under `basePath/<name>`.
    * Each view's merge basis (its prior snapshot) resolves INSIDE
    * [[SnapshotStore.publishAll]], with every store's lease already held —
    * a competing writer can't publish between the basis read and the
    * commit and have its rows silently dropped (the lost-update the
    * store's publish core refuses; same discipline as `upsertSink`). */
  def fanOut(basePath: String, views: Seq[ViewDef], keep: Int = 3)(
      batch: DataFrame, batchId: Long): Unit =
    SnapshotStore.publishAll(batch.sparkSession,
      views.map { v =>
        val store = s"$basePath/${v.name}"
        store -> (() => SnapshotStore.mergeLatestByKey(
          store, v.delta(batch), v.keys, v.versionCol, deleteCol = None))
      }, batchId, keep)
}
