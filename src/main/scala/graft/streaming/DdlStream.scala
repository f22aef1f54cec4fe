package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

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

  /** One microbatch through its feed's DDL control, then `body` with the
    * batch's data rows and, with a registry, the table versions they bind
    * to. A batch without an `op` column (already compacted) has no control
    * rows. Otherwise the control step and `body` share the batch, cached
    * until `body` returns. */
  private[streaming] def peel(batch: DataFrame, batchId: Long,
      registryDir: Option[String], defaultSchema: String,
      barrierDir: Option[String], redoEnabled: Boolean)
      (body: (DataFrame, Option[Seq[SchemaRegistry.TableVersion]]) => Unit): Unit =
    registryDir match {
      case Some(dir) if peels(batch, registryDir) =>
        batch.persist()
        try {
          val vs = controlStep(batch, batchId, dir, defaultSchema, barrierDir,
            redoEnabled)
          body(batch.filter(isDataRow), Some(vs))
        } finally { batch.unpersist(); () }
      case _ => body(batch, registryDir.map(versions(_, defaultSchema)))
    }

  /** The `commit_ts` of the rows [[peel]] hands on, null on a control
    * row: what a feed observes as its marks. */
  private[streaming] def dataCommitTs(stream: DataFrame,
      registryDir: Option[String]): Column =
    if (peels(stream, registryDir)) when(isDataRow, col("commit_ts"))
    else col("commit_ts")

  private def peels(frame: DataFrame, registryDir: Option[String]) =
    registryDir.isDefined && frame.columns.contains("op")

  /** True on a data row, false or null on a DDL control row. */
  private def isDataRow: Column = col("op") =!= DdlOp

  /** The owner's cycle at a barrier (ddl_manager.go:508-584). ONE Spark
    * action yields the batch's resolved ts (its max commit ts — the batch
    * is watermark-complete) and its DDL control rows; those not in the
    * applied log are pending. With a `barrierDir`, their owner barrier is
    * logged BEFORE they join the registry (the crash order the barrier
    * log's replay idempotence relies on); then they are appended — the
    * (sql, ts) pair is the idempotence key — and the versions folded. */
  private def controlStep(batch: DataFrame, batchId: Long,
      registryDir: String, defaultSchema: String, barrierDir: Option[String],
      redoEnabled: Boolean): Seq[SchemaRegistry.TableVersion] = {
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
    val applied = loadApplied(registryDir)
    val seen = applied.toSet
    val pending = parts.toSeq.flatMap(_._2).filterNot(r => seen((r._1, r._2)))
    for (dir <- barrierDir; resolved <- parts.flatMap(_._1).maxOption)
      appendBarrier(dir, batchId, resolved,
        OwnerBarrier.ofTextDdls(resolved, pending, redoEnabled, defaultSchema))
    val fresh = pending.map(r => (r._1, r._2)).distinct.sortBy(_._2)
    if (fresh.nonEmpty) append(registryDir, fresh)
    DdlParser.applyToRegistry(Nil, applied ++ fresh, defaultSchema)
  }

  /** One JSON line per batch in `<dir>/barriers.jsonl`: the boundary's
    * clamp record. Replay-idempotent like the DDL registry: a
    * foreachBatch retry re-runs the same batchId AFTER the first attempt
    * may already have applied the batch's DDLs, so the recomputed
    * barrier would differ — the original record stands, the re-run
    * writes nothing. The guard reads the log's last record, which holds
    * its highest batch id, so no state outlives the log. */
  private[graft] def appendBarrier(dir: String, batchId: Long,
      resolved: Long, b: OwnerBarrier.Barrier): Unit = {
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
}
