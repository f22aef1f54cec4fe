package graft.streaming

import graft.core.{DdlParser, SchemaRegistry}

/**
 * The owner's barrier composition — `ddlManager.barrier()`
 * (cdc/owner/ddl_manager.go:508-584): from the DDL puller's resolved ts and
 * the per-table pending next-DDLs (plus the just-sent DDL), compute the
 * scheduler's BarrierWithMinTs:
 *
 *  - all three fields seed at ddlResolvedTs
 *    (schedulepb/barrier.go:29-37);
 *  - MinTableBarrierTs = min over EVERY pending DDL's commit ts;
 *  - a redo-barrier DDL (the physical-table-creating actions,
 *    ddl_manager.go:88-95) lowers RedoBarrierTs — but only when redo is
 *    enabled: a new table's pipeline doesn't exist until the DDL executes,
 *    so redo's resolved ts must not pass it;
 *  - a GLOBAL DDL (anything not in the nonGlobalDDLs table,
 *    ddl_manager.go:56-86) lowers GlobalBarrierTs — every table's
 *    checkpoint must reach it first;
 *  - a non-global DDL contributes per-PHYSICAL-table barriers (the
 *    table id plus every partition id, min commit per id when several
 *    DDLs touch one table — ddl_manager.go:536-555);
 *  - table barriers above the global barrier drop; the survivors sort by
 *    ts and cap at 256 — an overflow REDEFINES the global barrier down to
 *    the 257th entry's ts and truncates (ddl_manager.go:558-578). The Go
 *    sorts unstably on ts alone over map-ordered entries; this
 *    implementation breaks ties by table id so the result is
 *    deterministic.
 */
object OwnerBarrier {

  val TableBarrierNumberLimit = 256

  /** ddl_manager.go:58-86 — DDLs that block only their related tables. */
  val NonGlobalDDLs: Set[String] = Set(
    "drop_table", "add_column", "drop_column", "add_index", "drop_index",
    "truncate_table", "modify_column", "set_default_value",
    "modify_table_comment", "rename_index", "add_table_partition",
    "drop_table_partition", "create_view", "modify_table_charset",
    "truncate_table_partition", "drop_view", "recover_table",
    "add_primary_key", "drop_primary_key", "rebase_auto_id",
    "alter_index_visibility", "multi_schema_change",
    "reorganize_partition", "alter_ttl_info", "alter_ttl_remove",
    "alter_table_partitioning", "remove_partitioning")

  /** ddl_manager.go:88-97 — DDLs that create a physical table. */
  val RedoBarrierDDLs: Set[String] = Set(
    "create_table", "truncate_table", "add_table_partition",
    "truncate_table_partition", "recover_table", "reorganize_partition",
    "alter_table_partitioning", "remove_partitioning")

  /** One pending DDL: commit ts, action, and its related physical table
    * ids (the table plus its partitions — getRelatedPhysicalTableIDs,
    * ddl_manager.go:671-690). */
  final case class DdlAt(commitTs: Long, action: String,
      physicalTableIds: Seq[Long])

  final case class Barrier(globalBarrierTs: Long, minTableBarrierTs: Long,
      redoBarrierTs: Long, tableBarriers: Seq[(Long, Long)])

  def barrier(ddlResolvedTs: Long, ddls: Seq[DdlAt],
      redoEnabled: Boolean): Barrier = {
    var global = ddlResolvedTs
    var minTable = ddlResolvedTs
    var redo = ddlResolvedTs
    val perTable = scala.collection.mutable.Map.empty[Long, Long]
    for (d <- ddls) {
      if (d.commitTs < minTable) minTable = d.commitTs
      if (redoEnabled && RedoBarrierDDLs.contains(d.action) &&
        d.commitTs < redo) redo = d.commitTs
      if (!NonGlobalDDLs.contains(d.action)) {
        if (d.commitTs < global) global = d.commitTs
      } else {
        for (id <- d.physicalTableIds) {
          perTable.get(id) match {
            case Some(ts) if d.commitTs >= ts => ()
            case _ => perTable(id) = d.commitTs
          }
        }
      }
    }
    var tb = perTable.toSeq.collect {
      case (id, ts) if ts <= global => (id, ts)
    }.sortBy { case (id, ts) => (ts, id) }
    if (tb.size > TableBarrierNumberLimit) {
      global = tb(TableBarrierNumberLimit)._2
      tb = tb.take(TableBarrierNumberLimit)
    }
    Barrier(global, minTable, redo, tb)
  }

  /** The barrier over textual DDLs not yet applied, as (sql, ts, schema,
    * table) rows: each statement is classified by [[ddlAction]] and keyed
    * on its table's [[physicalId]]. */
  def ofTextDdls(resolved: Long, pending: Seq[(String, Long, String, String)],
      redoEnabled: Boolean, defaultSchema: String): Barrier =
    barrier(resolved, pending.flatMap { case (sql, ts, sch, tbl) =>
      ddlAction(sql, defaultSchema).map(a => DdlAt(ts, a, Seq(physicalId(sch, tbl))))
    }, redoEnabled)

  /** The action-type vocabulary above for a textual DDL, as far as the
    * text path can classify. Unparseable statements map to "unknown",
    * which is GLOBAL (not in NonGlobalDDLs) — the safe over-blocking
    * default. */
  private def ddlAction(sql: String, defaultSchema: String): Seq[String] = {
    import DdlParser._
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
}
