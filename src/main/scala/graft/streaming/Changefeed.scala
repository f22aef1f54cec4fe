package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.max
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
  private def compactRouted(data: DataFrame): DataFrame =
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
    // the feed's marks: Spark reports this max in every committed batch's
    // progress ([[committedTs]]) and runs no job for it
    shaped.observe(Marks,
        max(DdlStream.dataCommitTs(shaped, spec.textDdlRegistryDir)).as("commit_ts"))
      .writeStream
      .queryName(spec.id)
      .option("checkpointLocation", spec.checkpointDir)
      .foreachBatch(runBatch(spark, spec, sink) _)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The body of one shaped batch: every microbatch, and DM's full load as
    * batch -1. DDL + OWNER BARRIER (W1/G5): the control step logs the
    * barrier and advances the registry BEFORE any row is delivered; data
    * rows bind against the versions it returns. */
  private[streaming] def runBatch(spark: SparkSession, spec: ChangefeedSpec,
      sink: (DataFrame, Long) => Unit)(batch: DataFrame, batchId: Long): Unit =
    DdlStream.peel(batch, batchId, spec.textDdlRegistryDir,
        spec.textDdlDefaultSchema, spec.barrierDir, spec.redoEnabled) {
      (data, versions) =>
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
