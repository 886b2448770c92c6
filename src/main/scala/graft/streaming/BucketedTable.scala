package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Key-hash-bucketed parquet table with per-bucket replacement — the storage
 * layout that makes MV maintenance O(delta) instead of O(table).
 *
 * TiFlink's sink writes per-region: a micro-batch only touches the TiKV
 * regions holding its keys (connectors/FlinkTikvProducer.java — rows are
 * grouped by region before prewrite). The parquet analog: the target is
 * hive-partitioned by `__bucket = hash(pk) % n`, a batch computes the bucket
 * set of its keys (≤ n values — driver-side by construction, never data-
 * sized), reads ONLY those buckets back (partition-pruned scan), merges, and
 * atomically swaps just those bucket directories. Untouched buckets are
 * never read, rewritten, or even listed — at 100 TB the per-batch write cost
 * is |delta| + the buckets it lands in, not the table.
 *
 * Each bucket swap is an atomic rename; cross-bucket readers can observe a
 * batch partially published (bucket granularity). That is the same
 * visibility contract TiFlink's per-region 2PC gives between regions; whole-
 * table snapshot isolation is layered on top by [[SnapshotStore]]'s pointer
 * flip when required.
 *
 * One file per bucket. [[JoinMv]]'s writers hand [[swapTouched]] frames
 * clustered by `__bucket` (their merge shuffles on it, or they repartition
 * on it before the write), so each bucket's rows sit in one task and every
 * bucket directory holds exactly one part-file. (`UpsertSink.upsertBucketed`
 * still groups by key alone: it writes a file per (task, bucket), one per
 * bucket when AQE coalesces its shuffle to a single task, as it does for
 * small batches.) A per-(task, bucket) layout wrote
 * up to tasks × buckets small files a swap, and both the write (a parquet
 * writer's setup and close) and every later read (a file open each) pay
 * per file. The trade-off: a swap's write parallelism equals the number of
 * buckets it touches, not the session's shuffle width — the same choice
 * [[compact]] makes, and sized by `nBuckets`.
 */
object BucketedTable {

  val BucketCol = "__bucket"

  /** Deterministic bucket id of a key tuple. */
  def bucketOf(keys: Seq[Column], nBuckets: Int): Column =
    pmod(xxhash64(keys: _*), lit(nBuckets.toLong)).cast("int")

  /** `graft.Lineage.truncate(df)` plus, for each of `sets`, the
    * sorted distinct int values it takes over `df` — typically bucket ids,
    * `col(BucketCol)` or a [[bucketOf]] over another key. This is how a
    * writer learns the bucket set it touches: the sets are `collect_set`
    * observations riding the job that materializes the frame (a frame
    * read back only to learn its bucket set costs a job per call), so
    * they must stay small: bucket ids are bounded by nBuckets.
    * With no `sets` it is a plain `truncate` and returns no sets. */
  def truncateObserving(df: DataFrame,
      sets: Column*): (graft.Lineage.Materialized, Seq[Seq[Int]]) = {
    if (sets.isEmpty) return (graft.Lineage.truncate(df), Nil)
    val obs = org.apache.spark.sql.Observation()
    val named = sets.indices.map(i => collect_set(sets(i)).as(s"__set$i"))
    val m = graft.Lineage.truncate(
      df.observe(obs, named.head, named.tail: _*))
    try {
      val got = obs.get
      (m, sets.indices.map(i =>
        got(s"__set$i").asInstanceOf[scala.collection.Seq[Int]].toSeq.sorted))
    } catch { case t: Throwable => m.release(); throw t }
  }

  /** Pin a table root's bucket count: first caller records `n` in a
    * `_n_buckets` sidecar, later callers are checked against it. A bucket
    * count that silently changed between runs would hash every key into
    * the WRONG directories — upserts would duplicate keys and pruned
    * reads would miss rows with no error anywhere downstream — so the
    * mismatch fails loudly here instead. */
  def pinBucketCount(spark: SparkSession, root: String, n: Int): Unit = {
    val p = new Path(root, "_n_buckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def storedCount(): Int = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toInt
      finally in.close()
    }
    def check(stored: Int): Unit =
      if (stored != n)
        throw new IllegalStateException(
          s"$root was built with nBuckets=$stored but this run uses " +
            s"nBuckets=$n — keys would hash into the wrong buckets; " +
            "rebuild the table or match the original count")
    // serialize in-JVM racers (concurrent streaming queries in one
    // driver — the realistic contention) on the interned marker path;
    // POSIX rename REPLACES an existing destination, so without this two
    // same-process first writers could both "win" with different counts
    s"graft.pinBucketCount:$p".intern().synchronized {
      if (fs.exists(p)) check(storedCount())
      else {
        fs.mkdirs(p.getParent)
        // unique temp per attempt: two concurrent first writers must not
        // share a staging file (one would rename the other's content)
        val tmp = new Path(root,
          s"._n_buckets_tmp_${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(n.toString.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, p)) {
          // lost a cross-process race (or rename failed): whatever is
          // pinned now wins — but it must still AGREE with n, else fail
          // exactly as the exists-branch would have
          fs.delete(tmp, false)
          if (!fs.exists(p))
            throw new IllegalStateException(s"could not record $p")
          check(storedCount())
        }
      }
    }
  }

  /** Replay marker in a table root: the last batch id whose writes the
    * table holds ([[readMarker]], -1 if none). Writers whose replay is not
    * a no-op by itself record it after their swaps, and return early on a
    * batch id at or below it. */
  private val MarkerFile = "_applied_batch"

  def readMarker(spark: SparkSession, root: String): Long = {
    val p = new Path(root, MarkerFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  /** Record `batchId` as applied: written to a hidden sibling, then
    * renamed over the marker, so a reader never sees a half-written id. */
  def writeMarker(spark: SparkSession, root: String, batchId: Long): Unit = {
    val p = new Path(root, MarkerFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(root, s".${MarkerFile}_tmp")
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new IllegalStateException(s"marker rename $tmp -> $p failed")
  }

  /** Sidecar in the table root holding the table's schema as JSON, pinned
    * by the first [[swapTouched]] (the `_` prefix hides it from Spark's
    * file listing). */
  val SchemaFile = "_schema"

  /** A schema's column names and types, order and nullability dropped —
    * parquet round-trips legitimately widen nullability, and a union by
    * name may reorder columns. */
  private[streaming] def shape(s: StructType): Seq[(String, String)] =
    s.fields.map(f => f.name -> f.dataType.catalogString).sortBy(_._1).toSeq

  /** The schema pinned for the table at `path`, if any (a table written
    * before schemas were pinned has none until its next swap). */
  def pinnedSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path, SchemaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(DataType.fromJson(new String(in.readAllBytes(), "UTF-8"))
        .asInstanceOf[StructType])
      finally in.close()
    }
  }

  /** Fail loudly if `schema` (a batch's, or a frame about to be swapped
    * in) drifts from the schema pinned at `path`: a column added, dropped,
    * renamed or retyped. Without this a retyped column would land in the
    * touched buckets only, leaving a table whose files disagree on the
    * column's type. No-op for a table with no pinned schema. */
  def checkSchema(spark: SparkSession, path: String, schema: StructType): Unit =
    pinnedSchema(spark, path).foreach(requireMatch(path, _, schema))

  private def requireMatch(path: String, pinned: StructType,
      schema: StructType): Unit =
    if (shape(pinned) != shape(schema))
      throw new IllegalStateException(
        s"schema drift on bucketed table $path: pinned " +
          s"${shape(pinned).mkString(", ")} vs incoming " +
          s"${shape(schema).mkString(", ")}; rebuild the table to change " +
          "its schema")

  /** Record `schema` as the table's schema, in the column order a parquet
    * read returns (data columns, then the bucket partition column). Staged
    * and renamed, so a crash leaves either no sidecar or a whole one. */
  private def pinSchema(fs: org.apache.hadoop.fs.FileSystem, path: String,
      schema: StructType): Unit = {
    val p = new Path(path, SchemaFile)
    val readOrder = StructType(schema.fields.filterNot(_.name == BucketCol) ++
      schema.fields.find(_.name == BucketCol))
    fs.mkdirs(p.getParent)
    val tmp = new Path(path, s".${SchemaFile}_tmp_${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(readOrder.json.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"could not record $p")
    }
  }

  /** Current contents of the touched buckets only: `open(...).read(touched)`.
    * None if the table has none of them. */
  def readTouched(spark: SparkSession, path: String, touched: Seq[Int]): Option[DataFrame] =
    open(spark, path).read(touched)

  /** A bucketed table resolved for reading: its trash reconciled, its
    * layout checked, its bucket directories listed and its pinned schema
    * loaded — all at [[open]], on the caller's thread. [[read]] then
    * touches nothing but the named `__bucket=b` directories: it neither
    * lists the table root nor reconciles trash, so a reader running while
    * another thread swaps OTHER buckets of the same table can neither list
    * a bucket that swap has between its two renames nor "restore" it from
    * the trash. The listing is a snapshot: buckets swapped after [[open]]
    * must be re-opened, which a caller that reads a bucket only before it
    * swaps it, or reads only buckets no one swaps, never needs. */
  final class Opened private[BucketedTable] (spark: SparkSession,
      path: String, buckets: Set[Int], schema: Option[StructType]) {

    /** The named buckets' rows, with the bucket column (None if none of
      * them exists). No file is read and no job runs until an action. */
    def read(touched: Seq[Int]): Option[DataFrame] = {
      val present = touched.filter(buckets.contains).distinct
      if (present.isEmpty) None
      else Some(schema.fold(spark.read)(spark.read.schema)
        .option("basePath", path)
        .parquet(present.map(b => s"$path/$BucketCol=$b"): _*))
    }
  }

  /** Resolve the table at `path` for reading ([[Opened]]). The trash is
    * reconciled BEFORE the bucket listing: the canonical crash replay
    * re-delivers the batch that displaced a bucket, and a merge basis
    * captured without that bucket's rows would compute batch-only content
    * and overwrite the restored bucket with it — silent loss of every
    * prior key in the bucket (reconciling inside swapTouched alone runs
    * AFTER every caller has already read). A target holding NON-bucketed
    * parquet (a flat layout) is rejected loudly: merging over it would
    * silently ignore every existing row and leave a mixed directory no
    * reader can parse.
    *
    * Schema contract: reads use the schema [[swapTouched]] pinned in the
    * [[SchemaFile]] sidecar, so no read runs parquet schema inference (a
    * one-task Spark job per read). Every later swap is checked against the
    * pinned schema by name and type (not nullability), so the pinned
    * schema always describes every file in the table; a drifted frame
    * fails in [[swapTouched]] before anything is written. A table written
    * before schemas were pinned is read with inference until its next
    * swap pins one. */
  def open(spark: SparkSession, path: String): Opened = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    reconcileTrash(fs, path)
    val children =
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).toSeq else Nil
    if (children.exists(n => n.endsWith(".parquet") && !n.startsWith(".")))
      throw new IllegalStateException(
        s"$path holds a non-bucketed parquet layout; bucketed upsert would " +
          "silently drop it. Migrate the table first.")
    val buckets = children.filter(_.startsWith(s"$BucketCol="))
      .flatMap(_.stripPrefix(s"$BucketCol=").toIntOption).toSet
    new Opened(spark, path, buckets,
      if (buckets.isEmpty) None else pinnedSchema(spark, path))
  }

  /** The whole table, read under its pinned schema when it has one. */
  private def read(spark: SparkSession, path: String): DataFrame =
    pinnedSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)

  /** Reconcile an interrupted swap's trash, for LATEST-WINS merges (all
    * [[readTouched]]-then-[[swapTouched]] callers except additive ones —
    * see [[assertCleanTrash]]). Every entry is decidable: a displaced
    * bucket whose replacement landed in the target is superseded debris
    * (drop it); one missing from the target is the ONLY copy of that
    * bucket (the crash hit between rename-out and rename-in) — restore
    * it, and the replaying batch's merge redoes the work on top
    * idempotently. */
  /** Marker file declaring a bucketed table's merge ADDITIVE (deltas, not
    * latest-wins) — written by such writers ([[graft.streaming.IncrementalMv]]'s
    * agg table) so that EVERY reconcile path refuses to roll an
    * interrupted swap forward, not just the one caller that remembered to
    * assert: a maintenance [[compact]] or any other latest-wins flow
    * touching the table between the crash and the replay would otherwise
    * silently empty the trash, and the replay would double-apply. */
  val AdditiveMarker = "_graft_additive"

  /** Declare the table at `path` additive (idempotent). Callers with
    * non-replay-idempotent merges write this BEFORE their first swap. */
  def markAdditive(spark: SparkSession, path: String): Unit = {
    val p = new Path(path, AdditiveMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.create(p, true).close()
  }

  private def reconcileTrash(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val target = new Path(path)
    val trash = new Path(path + "__old")
    if (!fs.exists(trash)) return
    if (fs.listStatus(trash).nonEmpty &&
        fs.exists(new Path(target, AdditiveMarker)))
      throw new IllegalStateException(
        s"$trash holds buckets from an interrupted swap of an ADDITIVE " +
          s"table; a silent replay would double-apply deltas — restore " +
          s"them into $path manually, then delete the trash dir")
    fs.listStatus(trash).foreach { st =>
      val name = st.getPath.getName
      if (name.isEmpty || !name.forall(_.isDigit))
        throw new IllegalStateException(
          s"unrecognized entry ${st.getPath} in the swap trash; restore " +
            s"$trash into $path manually")
      val dst = new Path(target, s"$BucketCol=$name")
      if (fs.exists(dst)) fs.delete(st.getPath, true) // superseded debris
      else {
        fs.mkdirs(target)
        if (!fs.rename(st.getPath, dst))
          throw new IllegalStateException(
            s"could not restore displaced bucket ${st.getPath} to $dst " +
              "after an interrupted swap")
      }
    }
  }

  /** The loud guard for ADDITIVE merges (delta counts/sums — the
    * incremental-MV agg table): a crash inside their swap is NOT
    * reconcilable silently, because the already-swapped buckets carry the
    * batch's deltas and a replay would apply them AGAIN on top. Belt:
    * such callers assert this BEFORE any [[readTouched]] on the same
    * path. Suspenders: they also [[markAdditive]] the table, so every
    * OTHER reconcile path (maintenance [[compact]], a mistaken
    * latest-wins reader) refuses too instead of destroying the evidence
    * this assert depends on. */
  def assertCleanTrash(spark: SparkSession, path: String): Unit = {
    val trash = new Path(path + "__old")
    val fs = trash.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(trash) && fs.listStatus(trash).nonEmpty)
      throw new IllegalStateException(
        s"$trash holds buckets from an interrupted swap of an ADDITIVE " +
          s"table; a silent replay would double-apply deltas — restore " +
          s"them into $path manually, then delete the trash dir")
  }

  /** Publish `df` (which must contain only rows of `touched` buckets — the
    * caller derives both from the same frame) by staging a partitioned write
    * and renaming each touched bucket directory into place. A bucket whose
    * new content is empty is dropped. Untouched bucket directories are not
    * modified in any way — their files stay byte-identical. The first swap
    * pins `df`'s schema ([[SchemaFile]]); a later `df` whose schema drifts
    * from it fails here, before any of it is staged. */
  def swapTouched(df: DataFrame, path: String, touched: Seq[Int]): Unit = {
    val spark = df.sparkSession
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(path + "__stage")
    val trash = new Path(path + "__old")

    // second-chance reconcile for flows that swap without reading through
    // readTouched first — [[compact]] is one (its merge basis is safe: a
    // displaced bucket cannot enter its crowded set, but its swap must
    // still not run over unreconciled trash). Upsert callers already
    // reconciled through open/readTouched, BEFORE their merge basis was read.
    reconcileTrash(fs, path)
    pinnedSchema(spark, path) match {
      case Some(pinned) => requireMatch(path, pinned, df.schema)
      case None => pinSchema(fs, path, df.schema)
    }

    fs.delete(stage, true)
    df.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(stage.toString)

    fs.mkdirs(target)
    fs.delete(trash, true)
    fs.mkdirs(trash)
    touched.foreach { b =>
      val dst = new Path(target, s"$BucketCol=$b")
      val src = new Path(stage, s"$BucketCol=$b")
      // old content renamed out (readable until the instant of its swap),
      // new content renamed in; both renames are metadata-atomic. A refused
      // rename-out stops here: a rename-in onto the still-present bucket
      // would nest the new bucket inside the old one. If the rename-in
      // fails, put the old bucket back before surfacing.
      val displaced = new Path(trash, b.toString)
      if (fs.exists(dst) && !fs.rename(dst, displaced))
        throw new IllegalStateException(
          s"failed to move bucket $b of $path aside; its content is unchanged")
      if (fs.exists(src) && !fs.rename(src, dst)) {
        val restored = !fs.exists(displaced) || fs.rename(displaced, dst)
        throw new IllegalStateException(s"failed to publish bucket $b of $path; " +
          (if (restored) "old content restored"
           else s"old content left at $displaced for the next swap to restore"))
      }
    }
    fs.delete(trash, true)
    fs.delete(stage, true)
  }

  /** Small-file MAINTENANCE: rewrite every bucket holding ≥
    * `minFilesPerBucket` part-files into a single file, through the same
    * staged atomic [[swapTouched]] publish writers use (readers never see
    * a half-compacted bucket; an interrupted compaction heals through the
    * same trash reconciliation). Each swap leaves up-to-task-count part-files per
    * bucket; over many batches the read amplification compounds — at
    * 100 TB a bucket scanned per probe wants ONE row-group-packed file,
    * the role TiKV's region compaction plays for the reference. Content
    * is row-identical by construction (read → repartition on the bucket
    * key so each bucket lands in exactly one task → swap); only layout
    * changes. Returns the compacted bucket ids.
    *
    * Run it like the IVF compactor (B31): cron'd or piggybacked between
    * batches, under the table's writer coordination — it takes the same
    * whole-bucket swap path as any writer, so co-running it with a live
    * upsert needs the store's lock ([[SnapshotStore.withWriterLock]]). */
  def compact(spark: SparkSession, path: String,
      minFilesPerBucket: Int = 2): Seq[Int] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    // Reconcile BEFORE the crowded scan and its early returns — not only
    // inside swapTouched. A compaction that crashed between its two
    // renames leaves a displaced bucket ONLY in the trash; a recovery
    // compact that finds nothing (or something else) crowded would
    // otherwise return without ever restoring it, and every direct read
    // of the table silently misses that bucket's rows from then on
    // (found by the round-17 crash-point sweep).
    reconcileTrash(fs, path)
    val crowded = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$BucketCol="))
      .filter { s =>
        fs.listStatus(s.getPath).count(f =>
          f.getPath.getName.endsWith(".parquet") &&
            !f.getPath.getName.startsWith(".")) >= minFilesPerBucket
      }
      .map(_.getPath.getName.stripPrefix(s"$BucketCol=").toInt)
      .sorted
    if (crowded.isEmpty) return Nil
    val merged = read(spark, path)
      .filter(col(BucketCol).isin(crowded: _*))
      // one task per bucket → one part-file per bucket directory
      .repartition(crowded.length, col(BucketCol))
    swapTouched(merged, path, crowded)
    crowded
  }
}
