package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Row-shaping transforms (SURVEY.md §2.3 D6-D8, §2.6 C1, §2.4 F7).
 * All are pure column expressions — codegen'd, no UDFs.
 */
object Transforms {

  /**
   * C1 — update split. An UPDATE whose primary/unique key changed must be
   * applied as DELETE(before-image) + INSERT(after-image)
   * (reference cdc/model/sink.go:1262-1340 ShouldSplitUpdateEvent /
   * SplitUpdateEvent). Spark-first: a single `flatMap`-shaped
   * explode over a conditionally built event array — stays in codegen.
   *
   * Emits `split_part` (0 = original/delete leg, 1 = insert leg) to keep the
   * intra-txn ordering deterministic, and rewrites `pk` so every output row
   * has ONE effective key (delete leg keeps the before key, insert leg takes
   * the after key).
   */
  def updateSplit(df: DataFrame): DataFrame = {
    val keyChanged = col("op") === "U" && col("pk") =!= col("pk_after")
    val legs = when(keyChanged, array(lit(0), lit(1))).otherwise(array(lit(0)))
    // seq is rescaled to 2*seq+leg so the delete leg orders strictly before
    // the insert leg — keeps min_by/max_by in Compaction deterministic.
    df.withColumn("split_part", explode(legs))
      .withColumn("seq", col("seq") * 2 + col("split_part"))
      .withColumn("op",
        when(col("split_part") === 1, "I")
          .when(col("split_part") === 0 && keyChanged, "D")
          .otherwise(col("op")))
      .withColumn("pk", when(col("op") === "I", col("pk_after")).otherwise(col("pk")))
      .withColumn("val_after",
        when(col("op") === "D", lit(null).cast("double")).otherwise(col("val_after")))
      .withColumn("val_before",
        when(col("op") === "I", lit(null).cast("double")).otherwise(col("val_before")))
  }

  /**
   * C1+ — the sink-side `TrySplitAndSortUpdateEvent`
   * (cdc/model/sink.go:1187-1250): MySQL-compatible schemes and
   * `output-raw-change-event = true` (pkg/config/sink.go:695-703, the
   * Kafka/Pulsar/Storage opt-out) pass the txn through UNTOUCHED — the
   * MySQL path splits puller-side, raw mode emits original events.
   * Otherwise UPDATEs whose handle key changed split into D+I (via
   * [[updateSplit]]), and any txn in which a split HAPPENED re-sorts its
   * rows stably into delete < update < insert classes (the `txnRows`
   * sort, sink.go:431-452, applied only `if split` :1244-1246) — txns
   * with no split keep arrival order. Emits `sink_seq`, the output
   * position within the (commit_ts, schema, table) txn.
   *
   * Scale shape: one shuffle on the txn key; window state is bounded by
   * txn size. The class sort is per-txn, never global.
   */
  def sinkSplitAndSort(df: DataFrame, scheme: String = "kafka",
      outputRawChangeEvent: Boolean = false): DataFrame = {
    val mysqlCompatible = Set("mysql", "mysql+ssl", "tidb", "tidb+ssl")
    if (mysqlCompatible(scheme.toLowerCase(java.util.Locale.ROOT)) ||
        outputRawChangeEvent)
      df.withColumn("sink_seq", col("seq"))
    else {
      import org.apache.spark.sql.expressions.Window
      val txn = Window.partitionBy("commit_ts", "schema_name", "table_name")
      // updateSplit rescales seq to 2*seq+leg: odd seq ⇔ an insert leg,
      // so "this txn split" is a parity max — no second pass over the
      // pre-split stream needed.
      val dmlClass = when(col("op") === "D", 0)
        .when(col("op") === "U", 1).otherwise(2)
      updateSplit(df)
        .withColumn("_any_split", max(col("seq") % 2).over(txn))
        .withColumn("_cls",
          when(col("_any_split") === 1, dmlClass).otherwise(0))
        .withColumn("sink_seq",
          row_number().over(txn.orderBy(col("_cls"), col("seq"))).cast("long"))
        .drop("_any_split", "_cls")
    }
  }

  /**
   * F7 — safe mode. Inside the replay window after an unclean restart,
   * INSERT/UPDATE become idempotent REPLACE ("R") so re-applied events
   * cannot conflict (reference dm/syncer/safe_mode.go:27-120). In Spark
   * sinks this is the natural MERGE/upsert mode; the op rewrite keeps the
   * downstream SQL generator honest.
   */
  def safeMode(df: DataFrame, safeUntilTs: Long): DataFrame =
    df.withColumn("op",
      when(col("commit_ts") <= safeUntilTs && col("op").isin("I", "U"), "R")
        .otherwise(col("op")))

  /** D6 — column selector: keep only the listed payload columns per matching
    * table (reference columnselector/column_selector.go:25-140). Envelope
    * columns are always retained. */
  val EnvelopeCols: Seq[String] = Seq(
    "seq", "op", "commit_ts", "start_ts", "source_id",
    "schema_name", "table_name", "pk", "pk_after")

  def columnSelector(df: DataFrame, keep: Seq[String]): DataFrame = {
    val cols = (EnvelopeCols.filter(df.columns.contains) ++ keep).distinct
    df.select(cols.map(col): _*)
  }

  /** One index whose columns the selector must retain in full. */
  final case class SelectorViolation(table: String, index: Seq[String],
                                     dropped: Seq[String])

  /**
   * D6 guard — the reference REFUSES a selector that strips any column of a
   * table's handle/unique index (columnselector/column_selector.go:139-230
   * `VerifyTables`): without the full key the sink can no longer address
   * the row, so a lossy selector must fail at config time, not at apply
   * time. `tables` maps table name → its index column sets (from the schema
   * registry / DDL index info). Envelope columns count as always-kept.
   */
  def verifyColumnSelector(keep: Seq[String],
                           tables: Seq[(String, Seq[Seq[String]])]): Seq[SelectorViolation] = {
    val kept = (EnvelopeCols ++ keep).toSet
    for {
      (t, indexes) <- tables
      idx <- indexes
      dropped = idx.filterNot(kept.contains)
      if dropped.nonEmpty
    } yield SelectorViolation(t, idx, dropped)
  }

  /** [[columnSelector]] with the index-safety guard applied first. */
  def columnSelectorChecked(df: DataFrame, keep: Seq[String], table: String,
                            indexes: Seq[Seq[String]]): DataFrame = {
    val violations = verifyColumnSelector(keep, Seq(table -> indexes))
    require(violations.isEmpty,
      "column selector drops index columns: " + violations.map(v =>
        s"${v.table}(${v.index.mkString(",")}) loses ${v.dropped.mkString(",")}")
        .mkString("; "))
    columnSelector(df, keep)
  }

  /**
   * D8 — column value mapping (DM's deprecated column-mapping,
   * pkg/column-mapping/column.go:43-72): "partition id" embeds a shard
   * index into the high bits of a bigint key (reference partitionID at
   * pkg/column-mapping/column.go:442-530).
   */
  def partitionId(instanceId: Int, c: Column, bits: Int = 44): Column =
    shiftleft(lit(instanceId.toLong), bits).bitwiseOR(c)
}
