package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.{DdlParser, SchemaRegistry}

/**
 * G1/S4/K6 — textual DDL in the CHANGE STREAM: the reference multiplexes
 * DDL query events into the same stream as row events and applies each to
 * its schema tracker at its commit ts (dm/syncer/ddl.go HandleQueryEvent;
 * cdc DDL puller). Here DDL rows ride the envelope with `op = "G"` and the
 * SQL text in `etype`; each microbatch peels them off, folds them into a
 * PERSISTENT registry (survives restarts, replay-idempotent), and binds
 * the batch's data rows to the schema version in force at their ts.
 */
object DdlStream {

  /** Envelope op marking a DDL control row (SQL text in `etype`). */
  val DdlOp = "G"

  private def logPath(registryDir: String) = Paths.get(s"$registryDir/ddls.log")

  /** Applied (ts, sql) log — tab-separated with URL-encoded SQL so any
    * statement text round-trips on one line. */
  def loadApplied(registryDir: String): Seq[(String, Long)] = {
    val p = logPath(registryDir)
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).toArray(Array.empty[String]).toSeq.filter(_.nonEmpty).map { l =>
      val Array(ts, sql) = l.split("\t", 2)
      (java.net.URLDecoder.decode(sql, "UTF-8"), ts.toLong)
    }
  }

  private def append(registryDir: String, ddls: Seq[(String, Long)]): Unit = {
    Files.createDirectories(Paths.get(registryDir))
    val body = ddls.map { case (sql, ts) =>
      s"$ts\t${java.net.URLEncoder.encode(sql, "UTF-8")}"
    }.mkString("", "\n", "\n")
    Files.writeString(logPath(registryDir), body,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Current table versions from the whole applied-DDL history. */
  def versions(registryDir: String,
               defaultSchema: String = ""): Seq[SchemaRegistry.TableVersion] =
    DdlParser.applyToRegistry(Nil, loadApplied(registryDir), defaultSchema)

  /**
   * G5 — DDL barrier algebra (batch twin of the foreachBatch
   * control-before-rows ordering; reference cdc/owner/ddl_manager +
   * barrier ts in cdc/processor): a DDL at ts T applies after every row
   * with commit_ts < T and before every row with commit_ts >= T, so each
   * row belongs to exactly one schema EPOCH — the count of its table's
   * DDLs at or below its commit ts — and `barrier_ts` (the epoch's
   * opening DDL ts, 0 for the initial epoch) is a lower bound on every
   * row ts in the epoch.
   *
   * Scale shape: the DDL set is control-plane data (collected and
   * folded into a literal per-table array by
   * [[graft.core.SchemaRegistry.asOfEntries]], the lookup schema binding
   * uses), so epoch assignment is a pure map-only column expression over
   * the row stream — no join, no shuffle; the arrays are a handful of
   * longs so the interpreted higher-order filter is negligible.
   */
  def barrierEpochs(rows: DataFrame, ddls: DataFrame): DataFrame = {
    val byTable = ddls.select("table_name", "ddl_ts")
      .collect().groupBy(_.getString(0)).toSeq
      .map { case (t, rs) => Seq(t) -> rs.toSeq.map(r => lit(r.getLong(1))) }
    val passed = SchemaRegistry.asOfEntries(byTable, Seq(col("table_name")),
      col("commit_ts"), LongType)(identity)
    rows
      .withColumn("epoch", size(passed).cast("long"))
      .withColumn("barrier_ts", coalesce(array_max(passed), lit(0L)))
  }

  /**
   * One microbatch's DDL control step — the owner's cycle at a barrier
   * (ddl_manager.go:508-584). ONE Spark action yields the batch's
   * resolved ts (max commit ts, the DDL puller's resolved ts — the batch
   * is watermark-complete by construction) and its DDL control rows; the
   * applied log is read once. With a `barrierDir`, the owner barrier over
   * the not-yet-applied DDLs is logged BEFORE they join the registry —
   * the boundary's checkpoint/redo clamp, and the crash order the
   * barrier log's replay idempotence relies on. Then the fresh DDLs are
   * appended (the (sql, ts) pair set is the idempotence key, so a batch
   * replay re-applies nothing) and the table versions are folded from
   * the in-memory log. A batch without an `op` column (already
   * compacted) carries no control rows.
   */
  def controlStep(batch: DataFrame, batchId: Long, registryDir: String,
      defaultSchema: String = "", barrierDir: Option[String] = None,
      redoEnabled: Boolean = false): Seq[SchemaRegistry.TableVersion] = {
    val applied = loadApplied(registryDir)
    val log =
      if (!batch.columns.contains("op")) applied
      else {
        // one scan folds each partition to (max ts, its DDL rows):
        // control-plane sized, a handful of DDLs per batch
        val parts = batch
          .select(col("commit_ts"), col("op") <=> DdlOp, col("etype"),
            col("schema_name"), col("table_name"))
          .rdd.mapPartitions { it =>
            var hi: Option[Long] = None
            val ddls = Seq.newBuilder[(String, Long, String, String)]
            it.foreach { r =>
              if (!r.isNullAt(0))
                hi = Some(hi.fold(r.getLong(0))(math.max(_, r.getLong(0))))
              if (r.getBoolean(1)) ddls += ((r.getString(2), r.getLong(0),
                r.getString(3), r.getString(4)))
            }
            Iterator((hi, ddls.result()))
          }.collect()
        val rows = parts.toSeq.flatMap(_._2)
        val seen = applied.toSet
        for (dir <- barrierDir; resolved <- parts.flatMap(_._1).maxOption)
          Changefeed.appendBarrier(dir, batchId, resolved,
            Changefeed.barrierFromRows(resolved, rows, seen, redoEnabled,
              defaultSchema))
        val fresh = rows.map(r => (r._1, r._2))
          .filterNot(seen.contains).distinct.sortBy(_._2)
        if (fresh.nonEmpty) append(registryDir, fresh)
        applied ++ fresh
      }
    DdlParser.applyToRegistry(Nil, log, defaultSchema)
  }

  /** True on a data row of a batch with an `op` column, false or null on
    * a DDL control row: the filter that peels the control rows off. */
  private[streaming] def isDataRow: Column = col("op") =!= DdlOp
}
