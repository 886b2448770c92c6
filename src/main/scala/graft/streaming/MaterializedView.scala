package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Continuously-maintained materialized view — the Spark-native `TiFlinkApp`
 * (reference: flink/src/main/java/org/tikv/flink/TiFlinkApp.java:101-301).
 *
 * TiFlink's builder takes a SQL query + target table + PKs, validates that
 * the PKs are contained in the query's output columns (TiFlinkApp.java:
 * 273-287), then runs `sqlQuery(query).executeInsert(target)` with
 * exactly-once checkpointing. The Spark twin: a streaming DataFrame
 * transform, written via `foreachBatch` → [[UpsertSink]] with a checkpoint
 * location; each micro-batch publishes atomically, so readers of the target
 * always see a consistent past snapshot ("stale snapshot isolation").
 *
 * {{{
 * val q = MaterializedView.newBuilder()
 *   .setSource(changes)                       // streaming DataFrame
 *   .setQuery(df => df.groupBy($"user_id").agg(...))
 *   .setTargetPath("/data/mv/author_posts")
 *   .setPrimaryKeys("user_id")
 *   .setVersionColumn("last_ts")
 *   .setCheckpointLocation("/data/ckpt/author_posts")
 *   .build().start()
 * }}}
 */
final class MaterializedView private (
    source: DataFrame,
    query: DataFrame => DataFrame,
    targetPath: String,
    primaryKeys: Seq[String],
    versionColumn: String,
    deleteColumn: Option[String],
    checkpointLocation: String,
    trigger: Trigger,
    numBuckets: Int,
    dropIfExists: Boolean,
    bootstrap: Option[DataFrame],
    sinkOverride: Option[(DataFrame, Long) => Unit]) {

  /** The maintained view (unstarted plan). */
  def view: DataFrame = query(source)

  /** Primary keys: explicit, or inferred from the analyzed plan the way
    * TiFlink derives the target's unique key from the query
    * (TiFlinkApp.java:124-199): the topmost Aggregate's grouping columns
    * functionally determine every output row. Inference is all-or-nothing —
    * an unaliased grouping EXPRESSION is resolved through the output alias
    * whose child is semantically equal, and if any grouping column cannot
    * be named the whole inference returns empty (forcing an explicit
    * setPrimaryKeys) rather than a PARTIAL key that would silently collapse
    * distinct rows at upsert time. */
  def resolvedPrimaryKeys: Seq[String] = {
    if (primaryKeys.nonEmpty) primaryKeys
    else {
      import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      view.queryExecution.analyzed.collectFirst {
        case a: Aggregate =>
          val names = a.groupingExpressions.map {
            case ne: NamedExpression => Some(ne.name)
            case ge => a.aggregateExpressions.collectFirst {
              case al: Alias if al.child.semanticEquals(ge) => al.name
            }
          }
          if (names.forall(_.isDefined)) names.flatten else Nil
      }.getOrElse(Nil)
    }
  }

  /** Schema-evolution guard: restarting a view whose query now produces a
    * different schema against an existing target would mix row shapes in
    * one table (old buckets keep old columns — readers see nulls or casts
    * depending on file). The reference creates the target FROM the inferred
    * schema once (TiJDBCHelper.java:111-138) and thereafter the schemas
    * must agree; we enforce the same: any column set/type change against a
    * non-empty target fails loudly, pointing at setDropIfExists(true) as
    * the rebuild path. Nullability is not compared (parquet round-trips
    * legitimately widen it). */
  private def checkTargetSchema(v: DataFrame): Unit = {
    val conf = v.sparkSession.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(targetPath)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty) return
    def shape(s: org.apache.spark.sql.types.StructType) =
      BucketedTable.shape(s).filterNot(_._1 == BucketedTable.BucketCol)
    val existingSchema =
      try v.sparkSession.read.parquet(targetPath).schema
      catch {
        // non-empty dir but no parquet footers (a crash left only staging
        // debris): nothing committed yet, so there is no schema to guard —
        // wedging every restart here would be worse than the first batch
        // writing the real schema
        case _: org.apache.spark.sql.AnalysisException => return
      }
    val existing = shape(existingSchema)
    val incoming = shape(v.schema)
    if (existing != incoming)
      throw new IllegalStateException(
        s"incompatible schema change for MV target $targetPath: " +
          s"existing ${existing.mkString(", ")} vs query ${incoming.mkString(", ")}; " +
          "use setDropIfExists(true) to rebuild the view under the new schema")
  }

  def start(): StreamingQuery = {
    val v = view
    val cols = v.columns.toSet
    val pks = resolvedPrimaryKeys
    require(pks.nonEmpty, // TiFlinkApp.java:284
      "PrimaryKeys can't be empty (none set and the query has no GROUP BY to infer them from)")
    require(pks.forall(cols), // TiFlinkApp.java:285-287
      s"PrimaryKeys must be contained by columnNames: $pks vs $cols")
    require(cols.contains(versionColumn), s"version column $versionColumn missing from $cols")
    // dropIfExists can only rebuild what IT owns (targetPath + checkpoint).
    // With a custom sink the state that must also reset lives wherever the
    // sink keeps it (e.g. JdbcUpsertSink's fence table) — wiping just the
    // checkpoint restarts batch ids at -1/0/1…, which the surviving fence
    // would then skip FOREVER: a silently frozen target. Refuse loudly and
    // point at the sink-side reset (JdbcUpsertSink.clearFence).
    require(!(dropIfExists && sinkOverride.isDefined),
      "setDropIfExists(true) cannot rebuild a custom sink's target: reset " +
        "the sink's own state first (e.g. JdbcUpsertSink.clearFence + drop " +
        "the table), then start with a fresh checkpoint")
    if (dropIfExists) { // TiFlinkApp's dropOldTable/force mode
      val conf = v.sparkSession.sparkContext.hadoopConfiguration
      (Option(targetPath).toSeq :+ checkpointLocation).foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(conf).delete(path, true)
      }
    } else if (sinkOverride.isEmpty) checkTargetSchema(v)
    // the batch applier: the default bucketed-parquet upsert, or the
    // caller's sink (e.g. [[JdbcUpsertSink]] — the reference's target IS
    // the database); bootstrap and stream go through the SAME one
    val sinkFn: (DataFrame, Long) => Unit = sinkOverride.getOrElse(
      (batch, _) => UpsertSink.upsertBucketed(
        batch, targetPath, pks, versionColumn, deleteColumn, numBuckets))
    // SNAPSHOT-THEN-STREAM bootstrap — the reference's two-phase start
    // (FlinkTikvConsumer.java:133-159: full scan of the source table at a
    // start timestamp emitted as INSERT rows, then the changefeed from
    // that timestamp): the snapshot runs through the SAME query transform
    // and the SAME upsert path as every micro-batch, once, before the
    // stream starts. Exactly-once across restarts via a marker in the
    // CHECKPOINT location: checkpoint lifetime is the right scope — wiping
    // the checkpoint to reprocess the feed from scratch correctly
    // re-applies the snapshot too. A crash between upsert and marker
    // re-applies on the next start, which the latest-by-key merge makes a
    // no-op (same rows, same versions). The feed must begin at the snapshot
    // timestamp — changes BEFORE it would be stale against the
    // bootstrapped state and lose to it on version, which is exactly the
    // right outcome.
    bootstrap.foreach { snap =>
      val conf = v.sparkSession.sparkContext.hadoopConfiguration
      val marker = new org.apache.hadoop.fs.Path(
        checkpointLocation, "_graft_bootstrap_done")
      val fs = marker.getFileSystem(conf)
      if (!fs.exists(marker)) {
        val v0 = query(snap)
        require(v0.columns.toSet == cols,
          s"bootstrap snapshot produces ${v0.columns.toSet} through the " +
            s"query but the stream produces $cols — same query, same shape")
        sinkFn(v0, -1L)
        val out = fs.create(marker, true)
        try out.writeBytes("1") finally out.close()
      }
    }
    // Spark-native observability (the Flink-metrics surface TiFlink
    // inherits): per-batch row count + max version via `observe`, readable
    // from every StreamingQueryProgress under `observedMetrics("graft_mv")`
    // — no extra pass, the metrics ride the batch's own execution
    import org.apache.spark.sql.functions.{count, lit, max}
    v.observe("graft_mv", count(lit(1)).as("mv_rows"),
        max(org.apache.spark.sql.functions.col(versionColumn)).as("mv_max_version"))
      .writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch(sinkFn)
      .start()
  }
}

object MaterializedView {
  def newBuilder(): Builder = new Builder

  final class Builder private[MaterializedView] {
    private var source: DataFrame = _
    private var query: DataFrame => DataFrame = identity
    private var targetPath: String = _
    private var primaryKeys: Seq[String] = Nil
    private var versionColumn: String = _
    private var deleteColumn: Option[String] = None
    private var checkpointLocation: String = _
    private var trigger: Trigger = Trigger.ProcessingTime(0L)
    private var catalogDir: Option[String] = None
    private var numBuckets: Int = 64
    private var dropIfExists: Boolean = false
    private var bootstrap: Option[DataFrame] = None
    private var sinkOverride: Option[(DataFrame, Long) => Unit] = None

    def setSource(df: DataFrame): Builder = { source = df; this }
    /** Transform applied to the source — TiFlinkApp.Builder.setQuery analog.
      * SQL-string form: `b.setSqlQuery("SELECT ...", viewName)`. */
    def setQuery(q: DataFrame => DataFrame): Builder = { query = q; this }
    def setSqlQuery(sql: String, sourceView: String): Builder = {
      query = df => { df.createOrReplaceTempView(sourceView); df.sparkSession.sql(sql) }
      this
    }
    /** Expose every catalog table of `dir` to [[setSqlQuery]] SQL — the
      * TiFlinkCatalog UX (TiFlinkCatalog.java:140-199): one SQL string can
      * join the stream against any cataloged table
      * (`SELECT ... FROM changes JOIN nation ON ...`). Views are
      * (re-)registered when the view plan is built, so a restart after
      * catalog changes picks up current schemas. */
    def setCatalog(dir: String): Builder = { catalogDir = Some(dir); this }
    def setTargetPath(p: String): Builder = { targetPath = p; this }
    def setPrimaryKeys(pks: String*): Builder = { primaryKeys = pks; this }
    def setVersionColumn(c: String): Builder = { versionColumn = c; this }
    def setDeleteColumn(c: String): Builder = { deleteColumn = Some(c); this }
    def setCheckpointLocation(p: String): Builder = { checkpointLocation = p; this }
    def setTrigger(t: Trigger): Builder = { trigger = t; this }
    /** Target bucket count (TiFlinkApp per-MV parallelism knob analog),
      * at least 1. Default 64: each micro-batch rewrites only the buckets
      * holding its keys. `1` keeps the view in one bucket directory,
      * swapped whole by one rename each batch. The count is pinned by the
      * first commit: a restart with another count fails loudly. */
    def setNumBuckets(n: Int): Builder = { numBuckets = n; this }
    /** Recreate the target from scratch on start: drop target + checkpoint
      * (TiFlinkApp's dropOldTable/forceNewTable). */
    def setDropIfExists(b: Boolean): Builder = { dropIfExists = b; this }

    /** Snapshot-then-stream bootstrap: a BATCH frame holding the source
      * table's state at the changefeed's start timestamp (the reference's
      * snapshot phase, FlinkTikvConsumer.java:133-159). Applied once
      * through the same query + upsert path before the stream starts;
      * exactly-once across restarts via a CHECKPOINT-scoped marker
      * (`<checkpointLocation>/_graft_bootstrap_done`). */
    def setBootstrap(snapshot: DataFrame): Builder = {
      bootstrap = Some(snapshot); this
    }

    /** Replace the default bucketed-parquet upsert with a caller sink —
      * pass [[JdbcUpsertSink]] and the maintained view lands INSIDE a
      * database, the reference's own target shape (its 2PC sink commits
      * the view into TiKV, TiFlinkApp.java). Bootstrap and every
      * micro-batch apply through this same function (bootstrap uses
      * batch id -1, below the stream's 0-based ids, so an
      * exactly-once sink's fence scopes it separately); `targetPath`
      * becomes optional. Exactly-once is the SINK's job here, as it is
      * for the parquet path. CHECKPOINT AND SINK STATE SHARE A LIFETIME:
      * wiping the checkpoint restarts batch ids, which an exactly-once
      * sink's surviving fence would skip — reset the sink's state (e.g.
      * [[JdbcUpsertSink.clearFence]]) whenever the checkpoint is wiped
      * (`setDropIfExists` refuses for exactly this reason). */
    def setSink(sink: (DataFrame, Long) => Unit): Builder = {
      sinkOverride = Some(sink); this
    }

    /** Apply a VALIDATED deployment config ([[graft.GraftOptions]] — the
      * TiFlinkOptions analog): trigger cadence, bucket count, watermark,
      * rebuild mode. Explicit setters called after this still win. */
    def setOptions(opts: graft.GraftOptions): Builder = {
      trigger = Trigger.ProcessingTime(math.max(opts.triggerMs, 0L))
      numBuckets = opts.numBuckets
      dropIfExists = opts.dropIfExists
      watermark = opts.watermark
      this
    }

    /** String-map form ([[setOptions]] after [[graft.GraftOptions.fromMap]]
      * validation): a typo'd key or malformed value fails HERE, at build
      * time, not as a surprising runtime default. */
    def setOptions(options: Map[String, String]): Builder =
      setOptions(graft.GraftOptions.fromMap(options))

    private var watermark: Option[(String, String)] = None

    def build(): MaterializedView = {
      require(source != null, "source must be specified")
      require(targetPath != null || sinkOverride.isDefined,
        "targetPath must be specified (or a custom sink set)")
      require(checkpointLocation != null, "checkpointLocation must be specified")
      require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
      val q = catalogDir match {
        case Some(d) =>
          val inner = query
          (df: DataFrame) => {
            graft.sources.Tables.registerAll(df.sparkSession, d); inner(df)
          }
        case None => query
      }
      // watermark stamps the SOURCE, before the query sees it — the same
      // place Flink's WATERMARK FOR clause attaches in TiFlink DDL
      val qWm = watermark match {
        case Some((c, d)) => (df: DataFrame) => q(df.withWatermark(c, d))
        case None => q
      }
      new MaterializedView(source, qWm, targetPath, primaryKeys,
        versionColumn, deleteColumn, checkpointLocation, trigger, numBuckets,
        dropIfExists, bootstrap, sinkOverride)
    }
  }
}
