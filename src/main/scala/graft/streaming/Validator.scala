package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * V5 — continuous validator with PERSISTENT pending/error row state across
 * batches, mirroring the reference's validate worker + checkpoint
 * (dm/syncer/validate_worker.go:233-280 updatePendingAndErrorRows,
 * dm/syncer/validator_checkpoint.go):
 *
 *  - each round re-validates pending rows ∪ new expected images against
 *    the target; rows that now match are dropped (validated ok);
 *  - rows that still differ stay pending with failed_cnt+1 and keep their
 *    first_fail_ts; once a row has been failing for ≥ errorDelay it
 *    escalates to the error table (the reference's rowErrorDelayInSec);
 *  - a NEW change for a key replaces its pending entry and resets the
 *    failure clock (the reference replaces the pending job);
 *  - pending volume is capped (maxPendingRowCount analog) — beyond it the
 *    validator reports itself stalled rather than growing unboundedly.
 *
 * The pending set is small by construction (only currently-lagging rows),
 * so a versioned full-rewrite with an atomic pointer swap is the right
 * cost model; the ERROR table is append-only parquet.
 */
object Validator {

  final case class RoundStats(ok: Long, pending: Long, newErrors: Long,
                              stalled: Boolean)

  private def ptrPath(stateDir: String) = Paths.get(s"$stateDir/CURRENT")

  /** Current pending rows, empty-shaped if no round has run. */
  def pendingState(spark: SparkSession, stateDir: String): DataFrame = {
    val ptr = ptrPath(stateDir)
    if (!Files.exists(ptr)) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "schema_name STRING, table_name STRING, pk BIGINT, exp_val DOUBLE, " +
            "first_fail_ts BIGINT, failed_cnt INT"))
    } else {
      val v = Files.readString(ptr).trim
      spark.read.parquet(s"$stateDir/$v")
    }
  }

  /** Accumulated error rows (rows that failed validation past the delay). */
  def errorRows(spark: SparkSession, stateDir: String): DataFrame = {
    val dir = new java.io.File(s"$stateDir/errors")
    if (!dir.exists()) pendingState(spark, stateDir).limit(0)
    else spark.read.parquet(dir.toString)
  }

  /**
   * One validation round.
   *
   * @param incoming new expected row images this batch:
   *   (schema_name, table_name, pk, exp_val) — the compacted net effect of
   *   the change stream since the last round
   * @param target   current downstream rows: (schema_name, table_name, pk,
   *   tgt_val)
   * @param batchTs  logical validation timestamp of this round
   * @param errorDelay pending rows failing for ≥ this many ts units escalate
   * @param maxPending stall threshold on the pending count
   */
  def validateRound(spark: SparkSession, stateDir: String,
                    incoming: DataFrame, target: DataFrame, batchTs: Long,
                    errorDelay: Long = 3, maxPending: Long = 1000000L): RoundStats = {
    val keys = Seq("schema_name", "table_name", "pk")
    val pending = pendingState(spark, stateDir)

    // new changes REPLACE pending entries for the same key (fresh clock)
    val fresh = incoming
      .select(col("schema_name"), col("table_name"), col("pk"),
        col("exp_val").cast("double").as("exp_val"),
        lit(null).cast("long").as("first_fail_ts"),
        lit(0).cast("int").as("failed_cnt"))
    val toCheck = fresh.unionByName(
      pending.join(incoming.select(keys.map(col): _*), keys, "left_anti"))

    val checked = toCheck.join(
      target.select(col("schema_name"), col("table_name"), col("pk"),
        col("tgt_val").cast("double").as("tgt_val")),
      keys, "left")
    val failed = checked
      .filter(col("tgt_val").isNull || !(col("tgt_val") <=> col("exp_val")))
      .withColumn("first_fail_ts", coalesce(col("first_fail_ts"), lit(batchTs)))
      .withColumn("failed_cnt", col("failed_cnt") + 1)
      .drop("tgt_val")
    val okCnt = checked.filter(col("tgt_val").isNotNull &&
      (col("tgt_val") <=> col("exp_val"))).count()

    val escalate = failed.filter(lit(batchTs) - col("first_fail_ts") >= errorDelay)
    val stillPending = failed.filter(lit(batchTs) - col("first_fail_ts") < errorDelay)

    val newErrors = escalate.withColumn("error_ts", lit(batchTs)).cache()
    val nErr = newErrors.count()
    if (nErr > 0) {
      newErrors.write.mode(SaveMode.Append).parquet(s"$stateDir/errors")
    }

    // publish the new pending version (atomic pointer swap)
    val ptr = ptrPath(stateDir)
    val next = (if (Files.exists(ptr))
      Files.readString(ptr).trim.stripPrefix("v").toLong else -1L) + 1
    stillPending.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/v$next")
    val nPending = spark.read.parquet(s"$stateDir/v$next").count()
    graft.core.FileOps.publishAtomic(ptr, s"v$next")
    newErrors.unpersist()

    RoundStats(okCnt, nPending, nErr, stalled = nPending > maxPending)
  }

  // ---- dmctl validation error operations --------------------------------

  // pb.ValidateErrorState (dm/pb/dmworker.pb.go:356-359)
  val InvalidErr = 0
  val NewErr = 1
  val IgnoredErr = 2
  val ResolvedErr = 3
  // pb.ValidationErrOp (dm/pb/dmworker.pb.go:387-390)
  val IgnoreErrOp = 1
  val ResolveErrOp = 2
  val ClearErrOp = 3

  /** One `dmctl validation ignore/resolve/clear-error` operation at
    * logical time `ts`: targets one error id or all
    * (data_validator.go:1341-1362 → validator_checkpoint.go:683-724). */
  final case class ErrorOp(ts: Long, op: Int, errId: Long = 0L,
                           isAll: Boolean = false)

  /**
   * The persisted-error view after a sequence of operations — the Spark
   * twin of the reference's mutable error table
   * (validator_checkpoint.go operateError/deleteError + loadError):
   *
   *  - error ids are assigned in escalation order (stable row_number over
   *    (error_ts, table, pk) — the AUTO_INCREMENT of the reference's
   *    table, derived instead of stored so the append-only parquet stays
   *    immutable);
   *  - an op applies to the rows EXISTING at its time (error_ts ≤ op.ts):
   *    clear DELETES them (permanently — later ops cannot resurrect),
   *    ignore/resolve SET the status, latest applicable op wins;
   *  - errors escalating after a clear-all are untouched by it — new
   *    errors always enter as NewErr (persistErrorRows writes
   *    ValidateErrorState_NewErr, validator_checkpoint.go:310).
   *
   * `filterState` mirrors GetValidatorError: InvalidErr returns all
   * (data_validator.go:1309-1339). Ops are control-plane sized — the fold
   * is one broadcast join over the error table.
   */
  def errorView(errors: DataFrame, ops: Seq[ErrorOp],
                filterState: Int = InvalidErr): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = errors.sparkSession
    import spark.implicits._
    val withId = errors.withColumn("id",
      row_number().over(Window.orderBy(col("error_ts"), col("schema_name"),
        col("table_name"), col("pk"))).cast("long"))
    val opsDf = ops.zipWithIndex
      .map { case (o, i) => (i.toLong, o.ts, o.op, o.errId, o.isAll) }
      .toDF("op_seq", "op_ts", "op_kind", "op_err_id", "op_is_all")
    val folded = withId
      .join(broadcast(opsDf),
        col("op_ts") >= col("error_ts") &&
          (col("op_is_all") || col("op_err_id") === col("id")), "left")
      .groupBy("id", "schema_name", "table_name", "pk", "error_ts")
      .agg(
        max(when(col("op_kind") === ClearErrOp, 1).otherwise(0))
          .as("cleared"),
        // latest applicable status op wins; same-ts ties break by op
        // order (the scalar ts*1e6+seq key replays verbatim in SQL)
        coalesce(
          max_by(col("op_kind"),
            when(col("op_kind").isin(IgnoreErrOp, ResolveErrOp),
              col("op_ts") * 1000000L + col("op_seq"))),
          lit(0)).as("last_set"))
      .filter(col("cleared") === 0)
      .withColumn("status",
        when(col("last_set") === IgnoreErrOp, IgnoredErr)
          .when(col("last_set") === ResolveErrOp, ResolvedErr)
          .otherwise(NewErr))
      .select("id", "schema_name", "table_name", "pk", "error_ts", "status")
    if (filterState == InvalidErr) folded
    else folded.filter(col("status") === filterState)
  }
}
