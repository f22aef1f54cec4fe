package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, when}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.SchemaRegistry
import graft.operators._

/**
 * Changefeed runtime (SURVEY.md §2.14, §3.1): a changefeed = one Structured
 * Streaming query. tiflow's owner/processor/scheduler machinery
 * (cdc/owner/changefeed.go, cdc/processor/processor.go) maps onto Spark's
 * driver/executor scheduling; etcd state maps onto the streaming
 * checkpoint; pause/resume = stop/start from checkpoint.
 *
 * The transform pipeline is declared ONCE on the streaming DataFrame —
 * Catalyst optimizes the whole chain (filter pushdown through the router
 * projection etc.) and every microbatch executes the optimized plan.
 */
final case class ChangefeedSpec(
    id: String,
    tableRules: Seq[Filters.TableRule] = Seq(Filters.TableRule("*", "*", allow = true)),
    eventRules: Seq[Filters.EventRule] = Nil,
    exprRules: Seq[Filters.ExprRule] = Nil,
    ignoredStartTs: Seq[Long] = Nil,
    routes: Seq[Routing.RouteRule] = Nil,
    splitUpdates: Boolean = true,
    compact: Boolean = true,
    safeModeUntilTs: Option[Long] = None,
    checkpointDir: String,
    // first-class runtime options mirroring the reference's ReplicaConfig
    // surface (pkg/config/replica_config.go:45-110): per-table DML metrics
    // and the textual-DDL control path.
    metricsDir: Option[String] = None,
    textDdlRegistryDir: Option[String] = None,
    textDdlDefaultSchema: String = "",
    // the owner's barrier composition at the microbatch boundary
    // (ddl_manager.go:508-584): when barrierDir is set (requires the
    // textual-DDL path), every batch logs the barrier computed from its
    // not-yet-applied DDL control rows BEFORE they execute — the feed's
    // checkpoint/redo clamp record at the boundary.
    redoEnabled: Boolean = false,
    barrierDir: Option[String] = None)

object Changefeed {

  /** The owner's action-type vocabulary for a textual DDL — what
    * [[OwnerBarrier]]'s tables key on (ddl_manager.go:58-97), as far as
    * the text path can classify. Unparseable statements map to
    * "unknown", which is GLOBAL (not in NonGlobalDDLs) — the safe
    * over-blocking default. */
  def ddlAction(sql: String, defaultSchema: String = ""): Seq[String] = {
    import graft.core.DdlParser._
    try parse(sql, defaultSchema).map {
      case _: CreateTable => "create_table"
      case _: DropTable => "drop_table"
      case _: TruncateTable => "truncate_table"
      case _: RenameTable => "rename_table"
      case _: CreateDatabase => "create_schema"
      case _: DropDatabase => "drop_schema"
      case ai: AlterIndex => if (ai.addIndex) "add_index" else "drop_index"
      case at: AlterTable => at.action match {
        case _: SchemaRegistry.AddColumn => "add_column"
        case _: SchemaRegistry.DropColumn => "drop_column"
        case _: SchemaRegistry.ModifyColumn => "modify_column"
        case _ => "rename_column" // not in NonGlobalDDLs → global
      }
    } catch { case _: Exception => Seq("unknown") }
  }

  /** Stable physical-table id for the barrier's per-table map — the text
    * path has names, not TiDB table ids. Plain JVM hash: the id only has
    * to be stable and distinct per name within one feed. */
  def physicalId(schema: String, table: String): Long = {
    val s = s"$schema.$table"
    s.foldLeft(1125899906842597L)((h, c) => h * 31 + c)
  }

  /** The owner barrier at a microbatch boundary: pending = the batch's
    * DDL control rows (sql, ts, schema, table) NOT yet in the applied
    * log, classified by [[ddlAction]]. */
  private[streaming] def barrierFromRows(resolved: Long,
      rows: Seq[(String, Long, String, String)],
      seen: Set[(String, Long)], redoEnabled: Boolean,
      defaultSchema: String): OwnerBarrier.Barrier = {
    val pending = rows
      .filterNot(r => seen.contains((r._1, r._2)))
      .flatMap { case (etype, ts, sch, tbl) =>
        ddlAction(etype, defaultSchema).map(a =>
          OwnerBarrier.DdlAt(ts, a, Seq(physicalId(sch, tbl))))
      }
    OwnerBarrier.barrier(resolved, pending, redoEnabled)
  }

  /** One JSON line per batch: the boundary's clamp record.
    * Replay-idempotent like the DDL registry on the same path: a
    * foreachBatch retry re-runs the same batchId AFTER the first attempt
    * may already have applied the batch's DDLs, so the recomputed
    * barrier would differ — the original record stands, the re-run
    * writes nothing. The guard reads the log's last record, which holds
    * its highest batch id, so no state outlives the log. */
  private[graft] def appendBarrier(dir: String, batchId: Long,
      resolved: Long,
      b: OwnerBarrier.Barrier): Unit = {
    val path = Files.createDirectories(Paths.get(dir)).resolve("barriers.jsonl")
    if (batchId <= lastLoggedBatch(path)) return
    val line = s"""{"batch":$batchId,"resolved_ts":$resolved,""" +
      s""""global_ts":${b.globalBarrierTs},""" +
      s""""min_table_ts":${b.minTableBarrierTs},""" +
      s""""redo_ts":${b.redoBarrierTs},"n_tb":${b.tableBarriers.size}}""" + "\n"
    Files.writeString(path, line,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }

  /** The batch id of the barrier log's last record, -1 without one. Only
    * the log's tail is read: a record is well under a kilobyte, and a
    * line cut short by a crash mid-append is read as far as its id. */
  private def lastLoggedBatch(path: Path): Long =
    if (!Files.exists(path)) -1L
    else {
      val f = new java.io.RandomAccessFile(path.toFile, "r")
      val tail = new Array[Byte](math.min(f.length, 4096L).toInt)
      try { f.seek(f.length - tail.length); f.readFully(tail) } finally f.close()
      new String(tail, StandardCharsets.UTF_8).split('\n').reverseIterator
        .collectFirst { case BarrierRecord(b) => b.toLong }.getOrElse(-1L)
    }

  private val BarrierRecord = """\{"batch":(\d+),.*""".r

  /** The filter→route→shape pipeline shared by batch and streaming — the
    * changefeed "plan" (tiflow's fixed topology, here a Catalyst plan). */
  def pipeline(df: DataFrame, spec: ChangefeedSpec): DataFrame = {
    var d = Filters.tableFilter(df, spec.tableRules)
    d = Filters.eventFilter(d, spec.eventRules)
    d = Filters.exprFilter(d, spec.exprRules)
    d = Filters.startTsFilter(d, spec.ignoredStartTs)
    d = Routing.route(d, spec.routes)
    spec.safeModeUntilTs.foreach(ts => d = Transforms.safeMode(d, ts))
    if (spec.splitUpdates) d = Transforms.updateSplit(d)
    d
  }

  /** Compaction on the ROUTED identity: after shard-merge several source
    * tables share one target, and net effects must fold across them (dm
    * shard-merge semantics). Renamed back so sinks see the canonical
    * envelope names. */
  def compactRouted(data: DataFrame): DataFrame =
    Compaction.compact(data, keyCols = Seq("target_schema", "target_table", "pk"))
      .withColumnRenamed("target_schema", "schema_name")
      .withColumnRenamed("target_table", "table_name")

  /**
   * Start a changefeed over a streaming envelope source. Each microbatch is
   * watermark-complete by construction (the source emits whole commit-ts
   * ranges), so per-key compaction inside foreachBatch preserves upstream
   * ordering — the microbatch IS the txn barrier (SURVEY.md §2.11 W1/W2).
   */
  def start(spark: SparkSession, source: DataFrame, spec: ChangefeedSpec)
           (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    // only the DDL control step writes the barrier, so a barrier dir
    // without the textual-DDL path would silently never be written
    require(spec.barrierDir.isEmpty || spec.textDdlRegistryDir.isDefined,
      s"changefeed ${spec.id}: barrierDir requires textDdlRegistryDir")
    val shaped = pipeline(source, spec)
    // the control step peels its DDL rows off the batch's data rows
    val peel = spec.textDdlRegistryDir.isDefined && shaped.columns.contains("op")
    // the feed's marks: Spark reports this max in every committed batch's
    // progress ([[committedTs]]) and runs no job for it
    val ts = col("commit_ts")
    shaped.observe(Marks,
        max(if (peel) when(DdlStream.isDataRow, ts) else ts).as("commit_ts"))
      .writeStream
      .queryName(spec.id)
      .option("checkpointLocation", spec.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // The batch is computed once: a frame is cached only where two
        // readers share it (the control step and compaction share the raw
        // batch; the metrics counters and the sink the bound one). A cache
        // fill is a job of its own, so a one-reader feed caches nothing.
        if (peel) batch.persist()
        try {
          // DDL + OWNER BARRIER (W1/G5): the batch's control step logs the
          // barrier and advances the registry BEFORE any row is delivered;
          // data rows bind against the versions it returns.
          val versions = spec.textDdlRegistryDir.map(d =>
            DdlStream.controlStep(batch, batchId, d, spec.textDdlDefaultSchema,
              spec.barrierDir, spec.redoEnabled))
          val data = if (peel) batch.filter(DdlStream.isDataRow) else batch
          val b = if (spec.compact) compactRouted(data) else data
          // the batch binds once, as a map-only plan literal (no job), so
          // the metrics wrapper and the user sink see the same schema-bound
          // rows; compacted batches bind on their last_commit_ts
          val bound = versions.fold(b)(SchemaRegistry.bindSchemaVersion(b, _,
            if (spec.compact) "last_commit_ts" else "commit_ts"))
          spec.metricsDir match {
            case None => sink(bound, batchId)
            case Some(m) =>
              bound.persist()
              try Metrics.withDmlMetrics(spark, m)(sink)(bound, batchId)
              finally { bound.unpersist(); () }
          }
        } finally if (peel) { batch.unpersist(); () }
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  private val Marks = "changefeed_marks" // the observation start puts on

  /** The highest data `commit_ts` among the batches `q` committed, as far
    * back as its recent progress reaches. Only a max is safe to observe:
    * an observed aggregate adds up every re-read of the batch. A failed
    * batch has no progress; a sink that never reads its batch observes
    * nothing. */
  def committedTs(q: StreamingQuery): Option[Long] =
    q.recentProgress.iterator
      .flatMap(p => Option(p.observedMetrics.get(Marks)))
      .filterNot(_.isNullAt(0)).map(_.getLong(0)).maxOption

  /** Changefeed status snapshot (REST /status analog): query progress from
    * Spark's own instrumentation. */
  def status(q: StreamingQuery): Map[String, Any] = Map(
    "id" -> q.name,
    "isActive" -> q.isActive,
    "lastBatch" -> Option(q.lastProgress).map(_.batchId).getOrElse(-1L),
    "inputRowsPerSecond" -> Option(q.lastProgress).map(_.inputRowsPerSecond).getOrElse(0d))
}
