package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multi-versioned schema store (SURVEY.md §1.2, §2.10 J2, §2.12 G1).
 * tiflow keeps a snapshot list keyed by DDL commit ts and decodes every
 * event against the snapshot at ITS OWN commit ts
 * (cdc/entry/schema_storage.go:40-242). Spark analog: a small versioned
 * registry folded into the plan as a map literal — events bind to the
 * latest version with effective_from <= commit_ts.
 */
object SchemaRegistry {

  /** One schema version of one table. */
  final case class TableVersion(schemaName: String, tableName: String,
                                version: Int, effectiveFrom: Long,
                                schema: StructType)

  /** DDL actions we apply to StructTypes (G1 subset; the reference routes
    * parsed TiDB DDL jobs, dm/syncer/ddl.go:223-414). */
  sealed trait DdlAction
  final case class AddColumn(name: String, dataType: DataType) extends DdlAction
  final case class DropColumn(name: String) extends DdlAction
  final case class RenameColumn(from: String, to: String) extends DdlAction
  final case class ModifyColumn(name: String, dataType: DataType) extends DdlAction

  def applyDdl(schema: StructType, action: DdlAction): StructType = action match {
    case AddColumn(n, t) => schema.add(n, t)
    case DropColumn(n) => StructType(schema.fields.filterNot(_.name == n))
    case RenameColumn(from, to) => StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    case ModifyColumn(n, t) => StructType(schema.fields.map(f =>
      if (f.name == n) f.copy(dataType = t) else f))
  }

  /**
   * G3 — optimistic shard-DDL schema join: shards may drift; the group's
   * effective schema is the field-union, nullable where any shard lacks the
   * column, CONFLICT when the same name carries different types (reference
   * dm/pkg/shardddl/optimism — the "schema lattice" join). Field order:
   * first-seen across shards, matching the reference's merge order.
   */
  final case class SchemaConflict(field: String, types: Seq[DataType])

  def joinSchemas(shards: Seq[StructType]): Either[SchemaConflict, StructType] = {
    val order = shards.flatMap(_.fieldNames).distinct
    val byName = order.map { n =>
      n -> shards.flatMap(_.fields.filter(_.name == n))
    }
    byName.collectFirst {
      case (n, fs) if fs.map(_.dataType).distinct.size > 1 =>
        SchemaConflict(n, fs.map(_.dataType).distinct)
    } match {
      case Some(c) => Left(c)
      case None =>
        Right(StructType(byName.map { case (n, fs) =>
          val f = fs.head
          // nullable if any shard misses the column or declares it nullable
          f.copy(nullable = f.nullable || fs.size < shards.size)
        }))
    }
  }

  /**
   * The plan-literal as-of lookup shared by schema binding (J2) and
   * barrier epochs (G5): `table` folds into one map literal keyed by each
   * key part in turn (string keys, so no struct per row), and each row
   * gets its key's entries whose effective ts (`from(entry)`) is at or
   * below `ts`. Map-only — no join, no Spark job. A missing key, a NULL
   * key part and a NULL ts give an empty array. A map literal, not a
   * per-key when() chain, which would nest one CaseWhen per table and
   * blow analysis/codegen on a changefeed with thousands of tables.
   */
  private[graft] def asOfEntries(table: Seq[(Seq[String], Seq[Column])],
      key: Seq[Column], ts: Column, entryType: DataType)
      (from: Column => Column): Column = {
    val empty = array().cast(ArrayType(entryType, containsNull = false))
    def nest(rows: Seq[(Seq[String], Column)]): Column =
      if (rows.head._1.isEmpty) rows.head._2
      else map(rows.groupBy(_._1.head).toSeq.sortBy(_._1).flatMap {
        case (k, rs) => Seq(lit(k), nest(rs.map(r => (r._1.tail, r._2))))
      }: _*)
    if (table.isEmpty) empty
    else {
      val m = nest(table.map { case (k, es) => (k, array(es: _*)) })
      filter(coalesce(key.foldLeft(m)(element_at), empty), e => from(e) <= ts)
    }
  }

  private val VersionEntry = new StructType()
    .add("from", LongType, nullable = false)
    .add("version", IntegerType, nullable = false)

  /**
   * J2 — as-of bind: every event gets `schema_version`, the last version
   * of its (schema, table) whose effectiveFrom is at or below its `tsCol`
   * — tiflow's in-memory snapshot lookup at a commit ts
   * (cdc/entry/schema_storage.go:122-152). The versions are control-plane
   * data folded into the plan by [[asOfEntries]]: no join, no broadcast,
   * no shuffle of the event stream. A ts before the first version, an
   * unknown table, a NULL schema or a NULL ts binds NULL.
   */
  def bindSchemaVersion(events: DataFrame, versions: Seq[TableVersion],
                        tsCol: String = "commit_ts"): DataFrame = {
    val table = versions.groupBy(v => Seq(v.schemaName, v.tableName)).toSeq
      .map { case (k, vs) =>
        k -> vs.map(v =>
          struct(lit(v.effectiveFrom).as("from"), lit(v.version).as("version")))
      }
    val passed = asOfEntries(table, Seq(col("schema_name"), col("table_name")),
      col(tsCol), VersionEntry)(_.getField("from"))
    // array_max over the (from, version) structs, not element_at(…, -1),
    // which throws on an empty array under ANSI mode; on a ts tie (a
    // split multi-change ALTER) the higher version wins
    events.withColumn("schema_version", array_max(passed).getField("version"))
  }
}
