package graft.core

/**
 * TiCDC's schema-snapshot table universe (SURVEY §2 D2/G1 depth): the
 * structural DDL operations that maintain WHICH physical tables exist,
 * their name↔id bindings, eligibility, and the truncate/exchange id
 * juggling. Reference: cdc/entry/schema/snapshot.go —
 * DoHandleDDL's action dispatch (:422-535), createSchema/replaceSchema/
 * dropSchema with the cascade over tablesInSchema (:722-780),
 * create/replace/drop table with partition + ineligibility tracking
 * (:782-906), truncateTable's old-id-branding (:811-842, incl. the
 * partitioned-table leg that brands only the VANISHED partition ids),
 * updatePartition (:908-975), exchangePartition's id swap — the
 * standalone source table adopts the exchanged partition's id while its
 * old id joins the target's partition set (:977-1083, getSourceTable's
 * must-be-exactly-one diffs), alterPartitioning = drop + recreate under
 * a NEW table id (:1063-1082), renameTables' drop-all-then-create-all
 * (:1084-1115), and the rename-into-a-dropped-schema rule — the table
 * is NOT recreated and silently leaves the universe (:443-455).
 *
 * Spark-first delta, stated once: the reference keeps an MVCC btree of
 * (id, negated-ts) versions so snapshots can be copied cheaply; in this
 * build the VERSION HISTORY lives in [[SchemaRegistry]] (as-of binding),
 * so this kernel maintains the CURRENT universe with plain maps — the
 * observable semantics (including latest-tag eligibility and the
 * truncate branding that clears when an id is reborn) are identical.
 *
 * Eligibility = the table has a usable key (tbInfo.IsEligible); an
 * ineligible table is tracked but not replicated, and its partitions
 * inherit the flag (:884-906).
 */
object SchemaSnapshot {

  final case class DbInfo(id: Long, name: String)

  /** One table version: `partitions` non-empty makes it a partitioned
    * table whose physical ids are the partition ids. */
  final case class TableDefn(id: Long, schemaId: Long, name: String,
                             eligible: Boolean = true,
                             partitions: Seq[Long] = Seq.empty)

  val ErrSchemaExists = "ErrSnapshotSchemaExists"
  val ErrSchemaNotFound = "ErrSnapshotSchemaNotFound"
  val ErrTableExists = "ErrSnapshotTableExists"
  val ErrTableNotFound = "ErrSnapshotTableNotFound"
  val ErrExchangePartition = "ErrExchangePartition"

  final class Snapshot(forceReplicate: Boolean = false) {
    private val schemasById =
      scala.collection.mutable.SortedMap.empty[Long, DbInfo]
    private val schemaIdByNameM =
      scala.collection.mutable.SortedMap.empty[String, Long]
    private val tablesById =
      scala.collection.mutable.SortedMap.empty[Long, TableDefn]
    private val tableIdByNameM =
      scala.collection.mutable.SortedMap.empty[(Long, String), Long]
    private val partitionOwner =
      scala.collection.mutable.SortedMap.empty[Long, Long] // pid -> table
    private val ineligible = scala.collection.mutable.SortedSet.empty[Long]
    private val truncated = scala.collection.mutable.SortedSet.empty[Long]
    private var currentTsVar = 0L

    def currentTs: Long = currentTsVar
    def schemaIdByName(name: String): Option[Long] =
      schemaIdByNameM.get(name)
    def tableIdByName(schema: String, table: String): Option[Long] =
      schemaIdByName(schema).flatMap(sid => tableIdByNameM.get((sid, table)))
    /** physicalTableByID (:633-652): a partition id resolves to its
      * owning table. */
    def physicalTableById(id: Long): Option[TableDefn] =
      tablesById.get(id)
        .orElse(partitionOwner.get(id).flatMap(tablesById.get))
    def isIneligibleTableId(id: Long): Boolean = ineligible.contains(id)
    def isTruncateTableId(id: Long): Boolean = truncated.contains(id)
    def tables: Seq[TableDefn] = tablesById.values.toSeq
    def tablesInSchema(schema: String): Seq[Long] =
      schemaIdByName(schema).toSeq.flatMap(sid =>
        tableIdByNameM.collect { case ((s, _), id) if s == sid => id })

    private def eligibleOf(t: TableDefn): Boolean =
      t.eligible || forceReplicate

    // ---- schema ops (:722-780) ------------------------------------------

    def createSchema(db: DbInfo, ts: Long): Either[String, Unit] = {
      if (schemasById.contains(db.id)) return Left(ErrSchemaExists)
      if (schemaIdByNameM.contains(db.name)) return Left(ErrSchemaExists)
      doCreateSchema(db); currentTsVar = ts; Right(())
    }

    /** replaceSchema: the old NAME binding is dropped on rename
      * (:756-769). */
    def replaceSchema(db: DbInfo, ts: Long): Either[String, Unit] = {
      val old = schemasById.get(db.id).getOrElse(
        return Left(ErrSchemaNotFound))
      doCreateSchema(db)
      if (old.name != db.name) schemaIdByNameM.remove(old.name)
      currentTsVar = ts; Right(())
    }

    def dropSchema(id: Long, ts: Long): Either[String, Unit] = {
      val db = schemasById.get(id).getOrElse(return Left(ErrSchemaNotFound))
      schemasById.remove(id)
      schemaIdByNameM.remove(db.name)
      // cascade over the schema's tables (:730-733)
      tablesById.values.filter(_.schemaId == id).toSeq
        .foreach(doDropTable)
      currentTsVar = ts; Right(())
    }

    private def doCreateSchema(db: DbInfo): Unit = {
      schemasById(db.id) = db
      schemaIdByNameM(db.name) = db.id
    }

    // ---- table ops (:782-906) -------------------------------------------

    def createTable(t: TableDefn, ts: Long): Either[String, Unit] = {
      if (!schemasById.contains(t.schemaId)) return Left(ErrSchemaNotFound)
      if (physicalTableById(t.id).nonEmpty) return Left(ErrTableExists)
      doCreateTable(t); currentTsVar = ts; Right(())
    }

    def replaceTable(t: TableDefn, ts: Long): Either[String, Unit] = {
      if (!schemasById.contains(t.schemaId)) return Left(ErrSchemaNotFound)
      if (!tablesById.contains(t.id)) return Left(ErrTableNotFound)
      doCreateTable(t); currentTsVar = ts; Right(())
    }

    def dropTable(id: Long, ts: Long): Either[String, Unit] = {
      val t = physicalTableById(id).getOrElse(return Left(ErrTableNotFound))
      doDropTable(t); currentTsVar = ts; Right(())
    }

    private def doDropTable(t: TableDefn): Unit = {
      tablesById.remove(t.id)
      tableIdByNameM.remove((t.schemaId, t.name))
      t.partitions.foreach { pid =>
        partitionOwner.remove(pid); ineligible.remove(pid)
      }
      ineligible.remove(t.id)
    }

    private def doCreateTable(t: TableDefn): Unit = {
      tablesById(t.id) = t
      tableIdByNameM((t.schemaId, t.name)) = t.id
      truncated.remove(t.id) // a reborn id is no longer branded
      if (!eligibleOf(t)) ineligible.add(t.id) else ineligible.remove(t.id)
      t.partitions.foreach { pid =>
        partitionOwner(pid) = t.id
        truncated.remove(pid)
        if (!eligibleOf(t)) ineligible.add(pid) else ineligible.remove(pid)
      }
    }

    /** truncateTable (:811-842): the OLD physical ids are branded as
      * truncated — for a partitioned table, only the partition ids that
      * vanished from the new definition. */
    def truncateTable(oldId: Long, t: TableDefn, ts: Long)
        : Either[String, Unit] = {
      // physicalTableByID resolution (:811-813): a partition id resolves
      // to its owning table
      val old = physicalTableById(oldId).getOrElse(
        return Left(ErrTableNotFound))
      doDropTable(old)
      doCreateTable(t)
      if (old.partitions.nonEmpty) {
        val keep = t.partitions.toSet
        old.partitions.filterNot(keep.contains).foreach(truncated.add)
      } else truncated.add(oldId)
      currentTsVar = ts; Right(())
    }

    /** updatePartition (:908-975): the table keeps its id, the partition
      * set is replaced; truncate-partition brands vanished ids. */
    def updatePartition(t: TableDefn, isTruncate: Boolean, ts: Long)
        : Either[String, Unit] = {
      val old = physicalTableById(t.id).getOrElse(
        return Left(ErrTableNotFound)) // physicalTableByID (:909-911)
      if (old.partitions.isEmpty || t.partitions.isEmpty)
        return Left(ErrTableNotFound) // not a partition table
      old.partitions.foreach { pid =>
        partitionOwner.remove(pid); ineligible.remove(pid)
      }
      doCreateTable(t)
      if (isTruncate) {
        val keep = t.partitions.toSet
        old.partitions.filterNot(keep.contains).foreach(truncated.add)
      }
      currentTsVar = ts; Right(())
    }

    /** exchangePartition (:977-1083): target's new partition set names
      * the standalone source table's OLD id; exactly one id must differ
      * on each side; the source table is recreated under the exchanged
      * partition's id. */
    def exchangePartition(target: TableDefn, ts: Long)
        : Either[String, Unit] = {
      val oldTarget = physicalTableById(target.id).getOrElse(
        return Left(ErrTableNotFound)) // physicalTableByID (:983,:1029)
      if (oldTarget.partitions.isEmpty || target.partitions.isEmpty)
        return Left(ErrTableNotFound)
      val oldIds = oldTarget.partitions.toSet
      val newIds = target.partitions.toSet
      val in = (newIds -- oldIds).toSeq
      if (in.size != 1) return Left(ErrExchangePartition)
      val source = physicalTableById(in.head).getOrElse(
        return Left(ErrTableNotFound)) // physicalTableByID (:996)
      val out = (oldIds -- newIds).toSeq
      if (out.size != 1) return Left(ErrExchangePartition)
      val exchangedPid = out.head
      // target keeps its schema/name (the TiDB-job fixup, :1035-1037)
      for (e <- updatePartition(target.copy(schemaId = oldTarget.schemaId,
        name = oldTarget.name), isTruncate = false, ts).left)
        return Left(e)
      for (e <- dropTable(source.id, ts).left) return Left(e)
      for (e <- createTable(source.copy(id = exchangedPid), ts).left)
        return Left(e)
      Right(())
    }

    /** alterPartitioning (:1063-1082): ALTER TABLE … PARTITION BY /
      * REMOVE PARTITIONING — drop the old id, recreate under the new. */
    def alterPartitioning(oldId: Long, t: TableDefn, ts: Long)
        : Either[String, Unit] = {
      for (e <- dropTable(oldId, ts).left) return Left(e)
      createTable(t, ts)
    }

    /** renameTable (DoHandleDDL :443-455): drop, then recreate ONLY if
      * the destination schema still exists — a rename into a dropped
      * schema silently leaves the universe. */
    def renameTable(oldId: Long, t: TableDefn, ts: Long)
        : Either[String, Unit] = {
      for (e <- dropTable(oldId, ts).left) return Left(e)
      if (!schemasById.contains(t.schemaId)) return Right(())
      createTable(t, ts)
    }

    /** renameTables (:1084-1115): drop every old id first, then create
      * every new one — so in-batch name swaps cannot collide. */
    def renameTables(renames: Seq[(Long, TableDefn)], ts: Long)
        : Either[String, Unit] = {
      renames.foreach { case (oldId, _) =>
        for (e <- dropTable(oldId, ts).left) return Left(e)
      }
      renames.foreach { case (_, t) =>
        if (!schemasById.contains(t.schemaId))
          return Left(ErrSchemaNotFound)
        for (e <- createTable(t, ts).left) return Left(e)
      }
      Right(())
    }
  }
}
