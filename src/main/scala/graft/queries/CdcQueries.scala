package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.CdcStream
import graft.operators._

/**
 * Gate queries for the CDC operator suite (SURVEY.md §2.4-2.6). Each query
 * applies one operator (as the streaming pipeline would, per microbatch) to
 * the deterministic derived change stream and aggregates the result into a
 * small, engine-portable output.
 */
object CdcQueries {

  private val cte = CdcStream.sqlCte

  // F1 — table filter: allow *.*, then block *.tbl_2, then re-allow db_1.tbl_2.
  // Last matching rule wins.
  private val tableRules = Seq(
    Filters.TableRule("*", "*", allow = true),
    Filters.TableRule("*", "tbl_2", allow = false),
    Filters.TableRule("db_1", "tbl_2", allow = true))

  val tableFilter = GateQuery(
    "q10_table_filter",
    Some(cte +
      """SELECT schema_name, table_name, count(*) AS cnt
        |FROM cdc
        |WHERE CASE WHEN schema_name = 'db_1' AND table_name = 'tbl_2' THEN TRUE
        |           WHEN table_name = 'tbl_2' THEN FALSE
        |           ELSE TRUE END
        |GROUP BY schema_name, table_name""".stripMargin)) { (spark, dir) =>
    Filters.tableFilter(CdcStream.derive(spark, dir), tableRules)
      .groupBy("schema_name", "table_name").agg(count(lit(1)).as("cnt"))
  }

  // F2 — event-type filter: no deletes on *.tbl_1, no 'error' payloads on db_0.*.
  private val eventRules = Seq(
    Filters.EventRule("*", "tbl_1", ignoreOps = Set("D")),
    Filters.EventRule("db_0", "*", ignoreEtypes = Set("error")))

  val eventFilter = GateQuery(
    "q11_event_filter",
    Some(cte +
      """SELECT schema_name, op, count(*) AS cnt
        |FROM cdc
        |WHERE NOT ((table_name = 'tbl_1' AND op = 'D')
        |        OR (schema_name = 'db_0' AND etype = 'error'))
        |GROUP BY schema_name, op""".stripMargin)) { (spark, dir) =>
    Filters.eventFilter(CdcStream.derive(spark, dir), eventRules)
      .groupBy("schema_name", "op").agg(count(lit(1)).as("cnt"))
  }

  // F3 — expression filter: Catalyst evaluates the user SQL expression that
  // tiflow runs through its embedded TiDB evaluator.
  private val exprRules = Seq(
    Filters.ExprRule("I", "val_after > 150 AND etype = 'click'"),
    Filters.ExprRule("U", "val_before < 20"))

  val exprFilter = GateQuery(
    "q12_expr_filter",
    Some(cte +
      """SELECT op, count(*) AS cnt,
        |  CAST(sum(CAST(coalesce(val_after, -1) AS DECIMAL(18,6))) AS DOUBLE) AS sum_after
        |FROM cdc
        |WHERE NOT ((op = 'I' AND coalesce(val_after > 150 AND etype = 'click', FALSE))
        |        OR (op = 'U' AND coalesce(val_before < 20, FALSE)))
        |GROUP BY op""".stripMargin)) { (spark, dir) =>
    Filters.exprFilter(CdcStream.derive(spark, dir), exprRules)
      .groupBy("op").agg(
        count(lit(1)).as("cnt"),
        sum(coalesce(col("val_after"), lit(-1d)).cast(DecimalType(18, 6)))
          .cast("double").as("sum_after"))
  }

  // F3, update-image split (q12b) — four per-image expressions, each
  // written against the TABLE schema (`val`, `etype`), with UPDATE rows
  // testing the before image and after image under SEPARATE rules
  // (reference IgnoreUpdateOldValueExpr / IgnoreUpdateNewValueExpr,
  // pkg/filter/expr_filter.go:93-124). The oracle re-expresses each
  // binding explicitly (old→val_before, new→val_after), so green pins the
  // rebinding itself: swap the images and counts shift.
  private val imageExprRules = Seq(
    Filters.ImageExprRule(
      ignoreInsert = "val > 150 AND etype = 'click'",
      ignoreDelete = "val < 5",
      ignoreUpdateOld = "val < 20",
      ignoreUpdateNew = "val > 180"))

  val exprFilterImages = GateQuery(
    "q12b_expr_filter_images",
    Some(cte +
      """SELECT op, count(*) AS cnt,
        |  CAST(sum(CAST(coalesce(val_before, -1) AS DECIMAL(18,6))) AS DOUBLE) AS sum_before,
        |  CAST(sum(CAST(coalesce(val_after, -1) AS DECIMAL(18,6))) AS DOUBLE) AS sum_after
        |FROM cdc
        |WHERE NOT ((op = 'I' AND coalesce(val_after > 150 AND etype = 'click', FALSE))
        |        OR (op = 'D' AND coalesce(val_before < 5, FALSE))
        |        OR (op = 'U' AND (coalesce(val_before < 20, FALSE)
        |                       OR coalesce(val_after > 180, FALSE))))
        |GROUP BY op""".stripMargin)) { (spark, dir) =>
    Filters.exprFilterImages(CdcStream.derive(spark, dir), imageExprRules)
      .groupBy("op").agg(
        count(lit(1)).as("cnt"),
        sum(coalesce(col("val_before"), lit(-1d)).cast(DecimalType(18, 6)))
          .cast("double").as("sum_before"),
        sum(coalesce(col("val_after"), lit(-1d)).cast(DecimalType(18, 6)))
          .cast("double").as("sum_after"))
  }

  // F4 — start-ts ignore list.
  private val ignoredStartTs = Seq(1000006L, 1000249L, 1001238L)

  val startTsFilter = GateQuery(
    "q13_startts_filter",
    Some(cte +
      s"""SELECT count(*) AS cnt, count(DISTINCT start_ts) AS n_start_ts,
         |  min(start_ts) AS min_ts, max(start_ts) AS max_ts
         |FROM cdc WHERE start_ts NOT IN (${ignoredStartTs.mkString(", ")})""".stripMargin)) { (spark, dir) =>
    Filters.startTsFilter(CdcStream.derive(spark, dir), ignoredStartTs)
      .agg(
        count(lit(1)).as("cnt"),
        countDistinct(col("start_ts")).as("n_start_ts"),
        min(col("start_ts")).as("min_ts"),
        max(col("start_ts")).as("max_ts"))
  }

  // W7 — BDR filter: drop events originated by cluster 2.
  val bdrFilter = GateQuery(
    "q14_bdr_filter",
    Some(cte +
      """SELECT source_id, etype, count(*) AS cnt
        |FROM cdc WHERE source_id <> 2
        |GROUP BY source_id, etype""".stripMargin)) { (spark, dir) =>
    Filters.bdrFilter(CdcStream.derive(spark, dir), Seq(2))
      .groupBy("source_id", "etype").agg(count(lit(1)).as("cnt"))
  }

  // F6 — per-table checkpoint gate.
  private val checkpoints = Map(
    ("db_0", "tbl_0") -> 1001000L,
    ("db_1", "tbl_3") -> 1000500L)

  val checkpointFilter = GateQuery(
    "q15_checkpoint_filter",
    Some(cte +
      """SELECT schema_name, table_name, count(*) AS cnt, min(commit_ts) AS min_ts
        |FROM cdc
        |WHERE commit_ts > CASE
        |    WHEN schema_name = 'db_0' AND table_name = 'tbl_0' THEN 1001000
        |    WHEN schema_name = 'db_1' AND table_name = 'tbl_3' THEN 1000500
        |    ELSE 1000100 END
        |GROUP BY schema_name, table_name""".stripMargin)) { (spark, dir) =>
    Filters.checkpointFilter(CdcStream.derive(spark, dir), checkpoints, 1000100L)
      .groupBy("schema_name", "table_name")
      .agg(count(lit(1)).as("cnt"), min(col("commit_ts")).as("min_ts"))
  }

  // R1 — table router: shard-merge db_0.* and db_1.tbl_1 into target tables.
  private val routeRules = Seq(
    Routing.RouteRule("db_0", "*", "dw", "merged_0"),
    Routing.RouteRule("db_1", "tbl_1", "dw", "merged_11"))

  val router = GateQuery(
    "q20_router",
    Some(cte +
      """SELECT
        |  CASE WHEN schema_name = 'db_0' THEN 'dw'
        |       WHEN schema_name = 'db_1' AND table_name = 'tbl_1' THEN 'dw'
        |       ELSE schema_name END AS target_schema,
        |  CASE WHEN schema_name = 'db_0' THEN 'merged_0'
        |       WHEN schema_name = 'db_1' AND table_name = 'tbl_1' THEN 'merged_11'
        |       ELSE table_name END AS target_table,
        |  count(*) AS cnt
        |FROM cdc GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    Routing.route(CdcStream.derive(spark, dir), routeRules)
      .groupBy("target_schema", "target_table").agg(count(lit(1)).as("cnt"))
  }

  // D7 — extend columns from regex captures of source names.
  val extendColumns = GateQuery(
    "q21_extend_columns",
    Some(cte +
      """SELECT regexp_extract(schema_name, 'db_(\d+)', 1) AS db_idx,
        |       regexp_extract(table_name, 'tbl_(\d+)', 1) AS tbl_idx,
        |       count(*) AS cnt, count(DISTINCT pk) AS n_keys
        |FROM cdc GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    Routing.extendColumns(CdcStream.derive(spark, dir), Seq(
      "db_idx" -> regexp_extract(col("schema_name"), "db_(\\d+)", 1),
      "tbl_idx" -> regexp_extract(col("table_name"), "tbl_(\\d+)", 1)))
      .groupBy("db_idx", "tbl_idx")
      .agg(count(lit(1)).as("cnt"), countDistinct(col("pk")).as("n_keys"))
  }

  // R2 — topic router.
  val topicRouter = GateQuery(
    "q22_topic_router",
    Some(cte +
      """SELECT 'cdc.' || schema_name || '.' || table_name AS topic, count(*) AS cnt
        |FROM cdc GROUP BY 1""".stripMargin)) { (spark, dir) =>
    Routing.route(CdcStream.derive(spark, dir), Nil)
      .withColumn("topic", Routing.topic("cdc.", "."))
      .groupBy("topic").agg(count(lit(1)).as("cnt"))
  }

  // R3 — partition dispatchers (table / ts / index-value).
  private val oracleHash32 = "((%s %% 2147483647) * 2654435761) %% 4294967296"
  private def oracleMd5Long(e: String) =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  val dispatchByTable = GateQuery(
    "q23_dispatch_table",
    Some(cte +
      s"""SELECT ${oracleHash32.format(oracleMd5Long("schema_name || chr(1) || table_name"))} % 6 AS part,
         |  count(*) AS cnt, count(DISTINCT schema_name || '.' || table_name) AS n_tables
         |FROM cdc GROUP BY 1""".stripMargin)) { (spark, dir) =>
    CdcStream.derive(spark, dir)
      .withColumn("target_schema", col("schema_name"))
      .withColumn("target_table", col("table_name"))
      .withColumn("part", Routing.dispatchByTable(6))
      .groupBy("part").agg(
        count(lit(1)).as("cnt"),
        countDistinct(concat_ws(".", col("schema_name"), col("table_name"))).as("n_tables"))
  }

  val dispatchByTs = GateQuery(
    "q24_dispatch_ts",
    Some(cte +
      """SELECT commit_ts % 6 AS part, count(*) AS cnt FROM cdc GROUP BY 1""".stripMargin)) { (spark, dir) =>
    CdcStream.derive(spark, dir)
      .withColumn("part", Routing.dispatchByTs(6))
      .groupBy("part").agg(count(lit(1)).as("cnt"))
  }

  val dispatchByIndexValue = GateQuery(
    "q25_dispatch_index_value",
    Some(cte +
      s"""SELECT ${oracleHash32.format("pk_after")} % 6 AS part,
         |  count(*) AS cnt, count(DISTINCT pk_after) AS n_keys
         |FROM cdc GROUP BY 1""".stripMargin)) { (spark, dir) =>
    CdcStream.derive(spark, dir)
      .withColumn("part", Routing.dispatchByIndexValue(6))
      .groupBy("part").agg(
        count(lit(1)).as("cnt"),
        countDistinct(col("pk_after")).as("n_keys"))
  }

  /**
   * q227 — DM `case-sensitive: false` (the DM DEFAULT,
   * dm/config/subtask.go:105,436-439 feeding tidb-tools filter.New and
   * regexprrouter): a mixed-case source stream (every even seq uppercases
   * its schema/table) flows through the SAME lowercase filter+route rules
   * under both settings — insensitive matches everything and routes
   * uniformly; sensitive drops/leaves the uppercased half.
   */
  val caseSensitivity = GateQuery(
    "q227_case_sensitivity",
    Some(cte +
      s"""SELECT mode, target_schema, matched, count(*) AS cnt FROM (
         |  SELECT m.mode,
         |    CASE WHEN m.mode = 'insensitive' OR seq % 2 <> 0 THEN 'dw'
         |         ELSE CASE WHEN seq % 2 = 0 THEN upper(schema_name) ELSE schema_name END
         |    END AS target_schema,
         |    (m.mode = 'insensitive' OR seq % 2 <> 0) AND table_name = 'tbl_2' AS matched
         |  FROM cdc CROSS JOIN (SELECT unnest(['sensitive', 'insensitive']) AS mode) m
         |) GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.DataFrame
    val mixed = CdcStream.derive(spark, dir)
      .withColumn("schema_name",
        when(col("seq") % 2 === 0, upper(col("schema_name")))
          .otherwise(col("schema_name")))
      .withColumn("table_name",
        when(col("seq") % 2 === 0, upper(col("table_name")))
          .otherwise(col("table_name")))
    val rules = Seq(Routing.RouteRule("db_*", "*", "dw", ""))
    val filt = Seq(Filters.TableRule("db_*", "tbl_2", allow = true))
    def leg(mode: String): DataFrame = {
      val cs = mode == "sensitive"
      Routing.route(mixed, rules, caseSensitive = cs)
        .withColumn("matched",
          Filters.tableFilterPredicate(filt, col("schema_name"),
            col("table_name"), caseSensitive = cs))
        .select(lit(mode).as("mode"), col("target_schema"), col("matched"))
    }
    leg("sensitive").unionByName(leg("insensitive"))
      .groupBy("mode", "target_schema", "matched")
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * q225 — explicit-key dispatcher completing the R3 matrix
   * (partition/key.go:22-37 via event_router.go:213-239): the same
   * unrecognized rule string "route-42" becomes a CONSTANT partition key
   * (partition 0) under a pulsar:// sink, and falls back to the default
   * (= table, partition/default.go:34-37) dispatcher under kafka://.
   */
  val dispatchByKeyGate = GateQuery(
    "q225_dispatch_key",
    Some(cte +
      s"""SELECT scheme, part, key, count(*) AS cnt FROM (
         |  SELECT 'pulsar' AS scheme, CAST(0 AS BIGINT) AS part,
         |    'route-42' AS key FROM cdc
         |  UNION ALL
         |  SELECT 'kafka' AS scheme,
         |    ${oracleHash32.format(oracleMd5Long("schema_name || chr(1) || table_name"))} % 6 AS part,
         |    CAST(NULL AS VARCHAR) AS key FROM cdc
         |) GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    val df = CdcStream.derive(spark, dir)
      .withColumn("target_schema", col("schema_name"))
      .withColumn("target_table", col("table_name"))
    def leg(scheme: String) = {
      val (part, key) = Routing.resolvePartitionRule("route-42", scheme, 6)
      df.select(lit(scheme.takeWhile(_ != ':')).as("scheme"),
        part.cast("long").as("part"),
        key.getOrElse(lit(null).cast("string")).as("key"))
    }
    leg("pulsar://broker:6650").unionByName(leg("kafka://broker:9092"))
      .groupBy("scheme", "part", "key").agg(count(lit(1)).as("cnt"))
  }

  /**
   * q238 — NAMED-index dispatcher completing the index-value matrix
   * (partition/index_value.go:57-82 — the `index` option of the dispatch
   * rule, config/sink.go DispatchRule): the configured index "uk_pk_val"
   * resolves to (pk, val) in the table's index registry and each row
   * hashes exactly THOSE (name, value) pairs — with the BEFORE image
   * supplying values on DELETE rows, the reference's dispatchCols
   * fallback (index_value.go:51-54, row.Columns empty on delete). The
   * missing-index failure (ErrDispatcherFailed, :68-75) is pinned in
   * TiflowParitySpec. `val` is floored to int64 before rendering so both
   * engines string-format the same integer (ColumnValueString renders
   * int64 decimal digits).
   */
  val dispatchByNamedIndexGate = GateQuery(
    "q238_dispatch_named_index",
    Some(cte +
      s"""SELECT xor(
         |    ${oracleMd5Long("'pk' || chr(1) || CAST(CASE WHEN op = 'D' THEN pk ELSE pk_after END AS VARCHAR)")},
         |    ${oracleMd5Long("'val' || chr(1) || CAST(CAST(floor(CASE WHEN op = 'D' THEN val_before ELSE val_after END) AS BIGINT) AS VARCHAR)")}
         |  ) % 6 AS part, count(*) AS cnt
         |FROM cdc GROUP BY 1""".stripMargin)) { (spark, dir) =>
    val indexes = Map(
      "primary" -> Seq("pk"),
      "uk_pk_val" -> Seq("pk", "val"))
    val value: String => org.apache.spark.sql.Column = {
      case "pk" => when(col("op") === "D", col("pk")).otherwise(col("pk_after"))
      case "val" => floor(when(col("op") === "D", col("val_before"))
        .otherwise(col("val_after"))).cast("long")
    }
    CdcStream.derive(spark, dir)
      .withColumn("part",
        Routing.dispatchByNamedIndex(6, indexes, "uk_pk_val", value))
      .groupBy("part").agg(count(lit(1)).as("cnt"))
  }

  // Shared oracle SQL for the post-update-split stream (C1). Mirrors
  // Transforms.updateSplit including the seq rescale to 2*seq+leg.
  private[queries] val splitCte = cte +
    """, split AS (
      |  SELECT seq * 2 + leg AS seq,
      |    CASE WHEN leg = 1 THEN 'I'
      |         WHEN op = 'U' AND pk <> pk_after THEN 'D'
      |         ELSE op END AS op,
      |    commit_ts, start_ts, source_id, schema_name, table_name,
      |    CASE WHEN leg = 1 THEN pk_after ELSE pk END AS pk,
      |    pk_after,
      |    CASE WHEN leg = 1 THEN NULL ELSE val_before END AS val_before,
      |    CASE WHEN leg = 1 THEN val_after
      |         WHEN op = 'U' AND pk <> pk_after THEN NULL
      |         WHEN op = 'D' THEN NULL
      |         ELSE val_after END AS val_after,
      |    etype
      |  FROM (SELECT *,
      |          unnest(CASE WHEN op = 'U' AND pk <> pk_after
      |                      THEN [0, 1] ELSE [0] END) AS leg
      |        FROM cdc)
      |)""".stripMargin

  // C1 — update split.
  val updateSplit = GateQuery(
    "q30_update_split",
    Some(splitCte +
      """SELECT op, count(*) AS cnt, CAST(sum(pk) AS BIGINT) AS sum_pk,
        |  count(DISTINCT pk) AS n_keys
        |FROM split GROUP BY op""".stripMargin)) { (spark, dir) =>
    Transforms.updateSplit(CdcStream.derive(spark, dir))
      .groupBy("op").agg(
        count(lit(1)).as("cnt"),
        sum(col("pk")).as("sum_pk"),
        countDistinct(col("pk")).as("n_keys"))
  }

  // C2 — compaction to net effects (full compacted state as the result).
  val compaction = GateQuery(
    "q31_compaction",
    Some(splitCte +
      """SELECT schema_name, table_name, pk,
        |  CASE WHEN first_op = 'I' AND last_op = 'D' THEN NULL
        |       WHEN last_op = 'D' THEN 'D'
        |       WHEN first_op = 'I' THEN 'I'
        |       WHEN first_op = 'D' THEN 'R'
        |       ELSE 'U' END AS net_op,
        |  CASE WHEN last_op = 'D' THEN NULL ELSE last_val_raw END AS final_val,
        |  last_seq, last_commit_ts, n_events
        |FROM (
        |  SELECT schema_name, table_name, pk,
        |    arg_min(op, seq) AS first_op, arg_max(op, seq) AS last_op,
        |    arg_max(coalesce(val_after, -1), seq) AS last_val_raw,
        |    max(seq) AS last_seq, max(commit_ts) AS last_commit_ts,
        |    count(*) AS n_events
        |  FROM split GROUP BY 1, 2, 3
        |)
        |WHERE (CASE WHEN first_op = 'I' AND last_op = 'D' THEN NULL
        |            WHEN last_op = 'D' THEN 'D'
        |            WHEN first_op = 'I' THEN 'I'
        |            WHEN first_op = 'D' THEN 'R'
        |            ELSE 'U' END) IS NOT NULL""".stripMargin)) { (spark, dir) =>
    Compaction.compact(Transforms.updateSplit(CdcStream.derive(spark, dir)))
      .select("schema_name", "table_name", "pk", "net_op", "final_val",
        "last_seq", "last_commit_ts", "n_events")
  }

  // C4 — txn grouping: histogram of txn sizes.
  val txnSizes = GateQuery(
    "q32_txn_sizes",
    Some(cte +
      """SELECT txn_rows, count(*) AS n_txns FROM (
        |  SELECT commit_ts, schema_name, table_name, count(*) AS txn_rows
        |  FROM cdc GROUP BY 1, 2, 3
        |) GROUP BY txn_rows""".stripMargin)) { (spark, dir) =>
    Compaction.txnSizes(CdcStream.derive(spark, dir))
      .groupBy("txn_rows").agg(count(lit(1)).as("n_txns"))
  }

  // C1+ — sink-side TrySplitAndSortUpdateEvent (split + class sort).

  /**
   * q233 — `Transforms.sinkSplitAndSort` (cdc/model/sink.go:1187-1250):
   * three modes over the same stream. `sorted` (kafka scheme, raw off)
   * splits key-changing UPDATEs and class-sorts ONLY the txns that
   * split (delete < update < insert, stable); `raw`
   * (output-raw-change-event) and `mysql` (MySQL-compatible scheme)
   * pass events through untouched. Each txn digests to its op sequence
   * in sink order plus an XOR(sink_seq·pk) binding (XOR, not Σ — the
   * summed form overflowed long under ANSI at the 100× corpus), grouped
   * to (mode, any_split, op_string) classes — so a wrong sort, a missed
   * split, or a split leaking into the bypass modes all flip rows.
   */
  val sinkSplitSort = GateQuery(
    "q233_sink_split_sort",
    Some(splitCte +
      """, sorted AS (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY commit_ts, schema_name, table_name
        |      ORDER BY CASE WHEN any_split = 1 THEN cls ELSE 0 END, seq
        |    ) AS sink_seq
        |  FROM (
        |    SELECT *,
        |      CASE WHEN op = 'D' THEN 0 WHEN op = 'U' THEN 1 ELSE 2 END AS cls,
        |      max(seq % 2) OVER (
        |        PARTITION BY commit_ts, schema_name, table_name) AS any_split
        |    FROM split)
        |), raw_leg AS (
        |  SELECT *, seq AS sink_seq,
        |    max(CASE WHEN op = 'U' AND pk <> pk_after THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY commit_ts, schema_name, table_name) AS any_split
        |  FROM cdc
        |), txns AS (
        |  SELECT mode, any_split,
        |    string_agg(op, '' ORDER BY sink_seq) AS op_string,
        |    bit_xor(sink_seq * pk) AS digest
        |  FROM (
        |    SELECT 'sorted' AS mode, commit_ts, schema_name, table_name,
        |      any_split, op, sink_seq, pk FROM sorted
        |    UNION ALL
        |    SELECT 'raw', commit_ts, schema_name, table_name,
        |      any_split, op, sink_seq, pk FROM raw_leg
        |    UNION ALL
        |    SELECT 'mysql', commit_ts, schema_name, table_name,
        |      any_split, op, sink_seq, pk FROM raw_leg)
        |  GROUP BY mode, any_split, commit_ts, schema_name, table_name
        |)
        |SELECT mode, any_split, op_string, count(*) AS n_txns,
        |  CAST(bit_xor(digest) AS BIGINT) AS sum_digest
        |FROM txns GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    def leg(mode: String, scheme: String, raw: Boolean) = {
      val s = Transforms.sinkSplitAndSort(CdcStream.derive(spark, dir),
        scheme, outputRawChangeEvent = raw)
      val anySplit =
        if (mode == "sorted") max(col("seq") % 2)
        else max(when(col("op") === "U" && col("pk") =!= col("pk_after"), 1L)
          .otherwise(0L))
      s.groupBy("commit_ts", "schema_name", "table_name")
        .agg(anySplit.as("any_split"),
          array_join(transform(
            array_sort(collect_list(struct(col("sink_seq"), col("op")))),
            x => x.getField("op")), "").as("op_string"),
          expr("bit_xor(sink_seq * pk)").as("digest"))
        .select(lit(mode).as("mode"), col("any_split"), col("op_string"),
          col("digest"))
    }
    leg("sorted", "kafka", raw = false)
      .unionByName(leg("raw", "kafka", raw = true))
      .unionByName(leg("mysql", "mysql", raw = false))
      .groupBy("mode", "any_split", "op_string")
      .agg(count(lit(1)).as("n_txns"),
        expr("bit_xor(digest)").as("sum_digest"))
  }

  // C3 — multi-row batching: batch sizes per (table, op).
  val batching = GateQuery(
    "q33_batching",
    Some(cte +
      """SELECT schema_name, table_name, op, batch_id, count(*) AS batch_rows FROM (
        |  SELECT schema_name, table_name, op,
        |    (row_number() OVER (PARTITION BY schema_name, table_name, op ORDER BY seq) - 1) // 32 AS batch_id
        |  FROM cdc
        |) GROUP BY 1, 2, 3, 4""".stripMargin)) { (spark, dir) =>
    Compaction.batchIds(CdcStream.derive(spark, dir), maxRows = 32)
      .groupBy("schema_name", "table_name", "op", "batch_id")
      .agg(count(lit(1)).as("batch_rows"))
  }

  // F7 — safe mode rewrite inside the replay window.
  val safeMode = GateQuery(
    "q34_safe_mode",
    Some(cte +
      """SELECT CASE WHEN commit_ts <= 1001000 AND op IN ('I','U') THEN 'R' ELSE op END AS op,
        |  count(*) AS cnt
        |FROM cdc GROUP BY 1""".stripMargin)) { (spark, dir) =>
    Transforms.safeMode(CdcStream.derive(spark, dir), 1001000L)
      .groupBy("op").agg(count(lit(1)).as("cnt"))
  }

  // R4 — causality slots: distribution over 16384 slots, bucketed for output.
  val causality = GateQuery(
    "q35_causality",
    Some(cte +
      s"""SELECT (${oracleHash32.format("pk")} % 16384) % 64 AS bucket,
         |  count(*) AS cnt, count(DISTINCT pk) AS n_keys
         |FROM cdc GROUP BY 1""".stripMargin)) { (spark, dir) =>
    CdcStream.derive(spark, dir)
      .withColumn("bucket", Routing.causalitySlot(col("pk")) % 64)
      .groupBy("bucket").agg(
        count(lit(1)).as("cnt"),
        countDistinct(col("pk")).as("n_keys"))
  }

  /**
   * q97: storage sink → storage CONSUMER round trip (reference
   * cmd/storage-consumer). The split change stream is WRITTEN through the
   * cloud-storage sink's {schema}/{table}/{date} parquet layout, read
   * back by [[graft.streaming.StorageConsumer]] (schema from the
   * _schema.json sidecars, identities from partition directories), and
   * replayed to net state with the standard compaction — the oracle
   * computes the same state directly from the stream, so any loss or
   * corruption in the file round trip fails the gate.
   */
  val storageConsumer = GateQuery(
    "q97_storage_consumer",
    Some(splitCte +
      """, agg AS (
        |  SELECT schema_name, table_name, pk,
        |    arg_min(op, seq) AS first_op, arg_max(op, seq) AS last_op,
        |    max(seq) AS last_seq, max(commit_ts) AS last_commit_ts
        |  FROM split GROUP BY 1, 2, 3
        |), comp AS (
        |  SELECT * FROM (
        |    SELECT schema_name, table_name, pk, last_seq, last_commit_ts,
        |      CASE WHEN first_op = 'I' AND last_op = 'D' THEN NULL
        |           WHEN last_op = 'D' THEN 'D'
        |           WHEN first_op = 'I' THEN 'I'
        |           WHEN first_op = 'D' THEN 'R'
        |           ELSE 'U' END AS net_op
        |    FROM agg
        |  ) WHERE net_op IS NOT NULL
        |)
        |SELECT schema_name, table_name, net_op, count(*) AS n_keys,
        |  CAST(sum(pk) AS BIGINT) AS sum_pk,
        |  CAST(sum(last_seq) AS BIGINT) AS seq_check,
        |  CAST(max(last_commit_ts) AS BIGINT) AS max_ts
        |FROM comp GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    import graft.streaming.{Sinks, StorageConsumer}
    // Scratch keyed by scale-dir hash + PID so concurrent gate processes
    // (bench + correctness on the same sf) can't delete each other's
    // files mid-read.
    val (base, _) = Gate.freshScratch("graft_storage_rt_", dir)
    Sinks.storageSink(base)(
      Transforms.updateSplit(CdcStream.derive(spark, dir)), 0L)
    Compaction.compact(StorageConsumer.read(spark, base))
      .groupBy("schema_name", "table_name", "net_op")
      .agg(count(lit(1)).as("n_keys"), sum(col("pk")).as("sum_pk"),
        sum(col("last_seq")).as("seq_check"),
        max(col("last_commit_ts")).as("max_ts"))
  }

  /**
   * q126: storage consumer under SCHEMA DRIFT (reference consumer re-reads
   * schema.json per table version, pkg/sink/cloudstorage/path.go:136-430):
   * the first half of the stream is written as table version 1, a
   * mid-stream column-add bumps to version 2 (new `extra_tag` column, new
   * sidecar, new path subtree), and ONE versioned consume must read both —
   * old rows surface NULL for the added column, new rows carry it. The
   * oracle recomputes the half-split and the added column's values from
   * the plain stream.
   */
  val storageSchemaDrift = GateQuery(
    "q126_storage_drift",
    Some(splitCte +
      """, b AS (SELECT (min(commit_ts) + max(commit_ts)) // 2 AS mid FROM split)
        |SELECT 1 AS sv, count(*) AS n_rows, count(*) AS n_extra_null,
        |  CAST(0 AS BIGINT) AS sum_extra, CAST(sum(pk) AS BIGINT) AS sum_pk
        |FROM split, b WHERE commit_ts <= mid
        |UNION ALL
        |SELECT 2, count(*), 0, CAST(sum(pk % 5) AS BIGINT),
        |  CAST(sum(pk) AS BIGINT)
        |FROM split, b WHERE commit_ts > mid""".stripMargin), heavy = true) { (spark, dir) =>
    import graft.streaming.{Sinks, StorageConsumer}
    val ev = Transforms.updateSplit(CdcStream.derive(spark, dir))
    val r = ev.agg(min(col("commit_ts")), max(col("commit_ts"))).head()
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val (base, _) = Gate.freshScratch("graft_storage_drift_", dir)
    Sinks.storageSink(base, schemaVersion = Some(1))(
      ev.filter(col("commit_ts") <= mid), 0L)
    // mid-stream DDL: ADD COLUMN extra_tag → version bump, new sidecar
    Sinks.storageSink(base, schemaVersion = Some(2))(
      ev.filter(col("commit_ts") > mid)
        .withColumn("extra_tag", col("pk") % 5), 1L)
    StorageConsumer.readVersioned(spark, base)
      .groupBy(col("_sv").cast("int").as("sv"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("extra_tag").isNull, 1L).otherwise(0L)).as("n_extra_null"),
        coalesce(sum(col("extra_tag")), lit(0L)).as("sum_extra"),
        sum(col("pk")).as("sum_pk"))
  }

  /**
   * q154: K4 — the storage sink's CANONICAL path contract
   * ([[graft.streaming.StorageLayout]]; reference
   * pkg/sink/cloudstorage/path.go:113-460): data files at
   * `<schema>/<table>/<version>/<date>/CDC%06d.csv` with the file
   * counter scoped per (version, date) — a date roll RESETS it — and
   * `meta/CDC.index` in every data dir naming the LAST file (the
   * consumer's resume cursor). The schema version is the q73 as-of
   * boundary; the flush wall-clock derives from the commit ts spread
   * over several days so the gate exercises the reset. Per data dir the
   * gate pins the exact dir string, file count (indices are dense 1..n,
   * so count + last name pin every file name), row count, seq bounds,
   * and the index file's path and content.
   */
  val storageLayout = GateQuery(
    "q154_storage_layout",
    Some(cte +
      """, planned AS (
        |  SELECT schema_name, table_name, seq,
        |    CASE WHEN commit_ts >= 1005000 THEN 4
        |         WHEN commit_ts >= 1002000 THEN 2 ELSE 1 END AS sv,
        |    strftime(make_timestamp(commit_ts * 4 * 1000000), '%Y-%m-%d') AS d,
        |    row_number() OVER (
        |      PARTITION BY schema_name, table_name,
        |        CASE WHEN commit_ts >= 1005000 THEN 4
        |             WHEN commit_ts >= 1002000 THEN 2 ELSE 1 END,
        |        strftime(make_timestamp(commit_ts * 4 * 1000000), '%Y-%m-%d')
        |      ORDER BY commit_ts, seq) AS rn
        |  FROM cdc
        |), files AS (
        |  SELECT schema_name || '/' || table_name || '/' || sv || '/' || d AS data_dir,
        |    (rn - 1) // 500 + 1 AS file_idx, seq
        |  FROM planned
        |)
        |SELECT data_dir,
        |  count(DISTINCT file_idx) AS n_files, count(*) AS n_rows,
        |  min(seq) AS min_seq, max(seq) AS max_seq,
        |  data_dir || '/meta/CDC.index' AS index_path,
        |  printf('CDC%06d.csv', max(file_idx)) AS index_content
        |FROM files GROUP BY data_dir""".stripMargin)) { (spark, dir) =>
    import graft.streaming.StorageLayout
    val df = CdcStream.derive(spark, dir)
    val sv = when(col("commit_ts") >= 1005000L, 4L)
      .when(col("commit_ts") >= 1002000L, 2L).otherwise(1L)
    val plan = StorageLayout.filePlan(df, sv, col("commit_ts") * 4, "day",
      fileIndexWidth = 6, extension = ".csv", rowsPerFile = 500L)
    val idx = StorageLayout.indexFiles(plan, 6, ".csv")
    plan.groupBy("data_dir")
      .agg(countDistinct(col("file_idx")).as("n_files"),
        count(lit(1)).as("n_rows"),
        min(col("seq")).as("min_seq"), max(col("seq")).as("max_seq"))
      .join(idx, Seq("data_dir"))
  }

  /**
   * q98: K1 end-to-end — the compacted stream is rendered to causality-
   * partitioned multi-row SQL files ([[graft.streaming.Sinks.sqlFileSink]]),
   * the files are EXECUTED against a live embedded SQL engine
   * ([[graft.streaming.SqlApply]], Derby + MySQL-dialect adapter), and the
   * resulting downstream table state must equal the net state the oracle
   * computes directly from the stream — the reference integration suite's
   * check_sync_diff property (sync then diff downstream vs upstream).
   * Any rendering bug (quoting, value formatting, batching, apply order)
   * corrupts the applied state and fails the gate.
   */
  val sqlApply = GateQuery(
    "q98_sql_apply",
    Some(splitCte +
      """, agg AS (
        |  SELECT schema_name, table_name, pk,
        |    arg_min(op, seq) AS first_op, arg_max(op, seq) AS last_op,
        |    arg_max(coalesce(val_after, -1), seq) AS last_val_raw
        |  FROM split WHERE pk % 19 = 0 GROUP BY 1, 2, 3
        |), comp AS (
        |  SELECT schema_name, table_name, pk,
        |    CASE WHEN first_op = 'I' AND last_op = 'D' THEN NULL
        |         WHEN last_op = 'D' THEN 'D'
        |         WHEN first_op = 'I' THEN 'I'
        |         WHEN first_op = 'D' THEN 'R'
        |         ELSE 'U' END AS net_op,
        |    last_val_raw AS final_val
        |  FROM agg
        |)
        |SELECT schema_name, table_name, count(*) AS n_rows,
        |  CAST(sum(pk) AS BIGINT) AS sum_pk,
        |  count(DISTINCT pk) AS n_keys,
        |  CAST(sum(CAST(final_val AS DECIMAL(18,6))) AS DOUBLE) AS sum_val
        |FROM comp WHERE net_op IS NOT NULL AND net_op <> 'D'
        |GROUP BY 1, 2""".stripMargin), heavy = true) { (spark, dir) =>
    import graft.streaming.{Sinks, SqlApply}
    // Gate on a deterministic key-complete sample (post-split pk % 19):
    // every surviving key keeps its FULL event history, so the rendered
    // INSERT/REPLACE/DELETE sequences are realistic while the embedded
    // single-threaded apply stays gate-sized. The engine-side render path
    // is volume-independent (distributed foreachPartition).
    // persisted: the render write and the table-list collect both consume
    // it — without this the whole derive→split→compact pipeline runs twice
    // prefilter is a superset of the post-split filter (split pk is the
    // source row's pk or pk_after), so only ~5% of the stream reaches the
    // split explode + compact shuffle; the post-split filter is exact
    val comp = Compaction.compact(
      Transforms.updateSplit(
        CdcStream.derive(spark, dir)
          .filter(col("pk") % 19 === 0 || col("pk_after") % 19 === 0))
        .filter(col("pk") % 19 === 0)).persist()
    val (sqlDir, tag) = Gate.freshScratch("graft_sql_apply_", dir)
    Sinks.sqlFileSink(sqlDir)(comp, 0L)
    val tables = comp.select("schema_name", "table_name").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    comp.unpersist()
    SqlApply.applyAndReadState(spark, sqlDir, tables, dbName = s"graft_apply_$tag")
      .groupBy("schema_name", "table_name")
      .agg(count(lit(1)).as("n_rows"), sum(col("pk")).as("sum_pk"),
        countDistinct(col("pk")).as("n_keys"),
        sum(col("final_val").cast("decimal(18,6)")).cast("double").as("sum_val"))
  }

  /**
   * q165 — force-replicate: a PK-less table's change stream
   * ([[ForceReplicate]]). Images are derived deterministically from the
   * envelope (a two-column row (grp, v) with NULLs in v), every UPDATE
   * splits into DELETE(old)+INSERT(new) — no key to update in place — and
   * the gate pins, per distinct row-VALUE (the multiset identity):
   * insert/delete instance counts, the algebraic net, the `applied` count
   * a sequential `DELETE … LIMIT 1` executor reaches (no-op deletes lift
   * it above net — the reference's exact MySQL behavior), a digest over
   * every rendered SQL statement byte-for-byte (all-column WHERE,
   * `IS NULL` for nulls, ` LIMIT 1` — dml.go whereSlice/prepareDelete),
   * and the count of IS-NULL WHERE legs. One exchange on the row-value;
   * rendering is map-only.
   */
  val forceReplicate = GateQuery(
    "q165_force_replicate",
    Some {
      val dig = "CAST(('0x' || substr(md5(sql), 1, 15)) AS BIGINT)"
      cte +
        s""", base AS (
           |  SELECT seq, op,
           |    'g' || CAST(pk % 5 AS VARCHAR) AS grp,
           |    CASE WHEN pk % 7 = 0 THEN NULL ELSE pk % 13 END AS v_old,
           |    CASE WHEN pk % 7 = 0 THEN 0 ELSE pk % 13 + 1 END AS v_new
           |  FROM cdc WHERE table_name = 'tbl_1'
           |), evs AS (
           |  SELECT seq * 2 + part AS ord,
           |    CASE WHEN op = 'U' AND part = 0 THEN 'D'
           |         WHEN op = 'U' THEN 'I' ELSE op END AS op,
           |    grp,
           |    CASE WHEN op = 'U' AND part = 1 THEN v_new ELSE v_old END AS v
           |  FROM base, (SELECT unnest([0, 1]) AS part) p
           |  WHERE part = 0 OR op = 'U'
           |), rendered AS (
           |  SELECT ord, op, grp, v,
           |    CASE WHEN op = 'I' THEN 1 ELSE -1 END AS delta,
           |    CASE WHEN op = 'D' THEN
           |      'DELETE FROM `dw`.`t` WHERE `grp` = ''' || grp || ''' AND ' ||
           |      (CASE WHEN v IS NULL THEN '`v` IS NULL'
           |            ELSE '`v` = ' || CAST(v AS VARCHAR) END) || ' LIMIT 1;'
           |    ELSE
           |      'INSERT INTO `dw`.`t` (`grp`, `v`) VALUES (''' || grp || ''', ' ||
           |      coalesce(CAST(v AS VARCHAR), 'NULL') || ');'
           |    END AS sql
           |  FROM evs
           |), pre AS (
           |  SELECT *, sum(delta) OVER (PARTITION BY grp, v ORDER BY ord
           |    ROWS UNBOUNDED PRECEDING) AS prefix
           |  FROM rendered
           |)
           |SELECT grp, v,
           |  CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
           |  CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
           |  CAST(sum(delta) AS BIGINT) AS net,
           |  CAST(sum(delta) - least(min(prefix), 0) AS BIGINT) AS applied,
           |  CAST(bit_xor($dig) AS BIGINT) AS sql_check,
           |  CAST(sum(CASE WHEN op = 'D' AND v IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_isnull_where
           |FROM pre GROUP BY grp, v""".stripMargin
    }) { (spark, dir) =>
    val env = CdcStream.derive(spark, dir).filter(col("table_name") === "tbl_1")
    val base = env.select(
      col("seq"), col("op"),
      concat(lit("g"), (col("pk") % 5).cast("string")).as("grp"),
      when(col("pk") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("pk") % 13).as("v_old"),
      when(col("pk") % 7 === 0, lit(0L)).otherwise(col("pk") % 13 + 1).as("v_new"))
    // persisted: both the multiset fold and the SQL-render branch consume
    // it — without this the events scan + U-split explode run twice
    val evs = base
      .withColumn("part", explode(
        when(col("op") === "U", array(lit(0), lit(1))).otherwise(array(lit(0)))))
      .select(
        (col("seq") * 2 + col("part")).as("ord"),
        when(col("op") === "U" && col("part") === 0, "D")
          .when(col("op") === "U", "I").otherwise(col("op")).as("op"),
        col("grp"),
        when(col("op") === "U" && col("part") === 1, col("v_new"))
          .otherwise(col("v_old")).as("v"))
      .persist()
    val fields: Seq[ForceReplicate.Field] = Seq(
      ("grp", col("grp"), concat(lit("'"), col("grp"), lit("'"))),
      ("v", col("v"), col("v").cast("string")))
    val rendered = evs.withColumn("sql",
        when(col("op") === "D", ForceReplicate.deleteSql("`dw`.`t`", fields))
          .otherwise(ForceReplicate.insertSql("`dw`.`t`", fields)))
      .withColumn("dig", graft.core.Hashing.portableLong(col("sql")))
    val sqlPins = rendered.groupBy(col("grp"), coalesce(col("v"), lit(-999L)).as("_vk"))
      .agg(expr("bit_xor(dig)").as("sql_check"),
        sum(when(col("op") === "D" && col("v").isNull, 1L).otherwise(0L))
          .as("n_isnull_where"))
    val out = ForceReplicate.multisetApply(evs, Seq("grp", "v"), col("ord"))
      .withColumn("_vk", coalesce(col("v"), lit(-999L)))
      .join(sqlPins, Seq("grp", "_vk"))
      .select("grp", "v", "n_ins", "n_del", "net", "applied",
        "sql_check", "n_isnull_where")
      .persist()
    out.count() // materialize before releasing the shared event table
    evs.unpersist()
    out
  }

  private val AtomCap = 12L // atomic-batch close threshold (rows)

  /**
   * q169 — `transaction-atomicity = table` ([[Compaction.atomicBatchIds]]):
   * with txn splitting OFF, batches close only at transaction boundaries
   * and may overshoot the row cap to keep a txn whole. The gate pins, per
   * table: the atomic batch count, the max batch size (its excess over the
   * cap witnesses the no-split overshoot), the `none`-level split count
   * (⌈rows/cap⌉) alongside for contrast, and an assignment checksum over
   * every (txn → batch) decision — the oracle replays the greedy fold with
   * a recursive CTE, so one txn landing in a different batch fails the
   * hash. Corpus rows collapse to txn sizes first; the fold itself runs
   * over the tiny txn table, per-table in parallel.
   */
  val txnAtomicity = GateQuery(
    "q169_txn_atomicity",
    Some(cte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", txns AS (
         |  SELECT schema_name, table_name, commit_ts,
         |    CAST(count(*) AS BIGINT) AS n_rows
         |  FROM cdc GROUP BY 1, 2, 3
         |), numbered AS (
         |  SELECT *, row_number() OVER (PARTITION BY schema_name, table_name
         |    ORDER BY commit_ts) AS i
         |  FROM txns
         |), rec AS (
         |  SELECT schema_name, table_name, i, commit_ts, n_rows,
         |    CAST(0 AS BIGINT) AS batch_id,
         |    CASE WHEN n_rows >= $AtomCap THEN CAST(0 AS BIGINT)
         |         ELSE n_rows END AS acc_after,
         |    CASE WHEN n_rows >= $AtomCap THEN CAST(1 AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS next_batch
         |  FROM numbered WHERE i = 1
         |  UNION ALL
         |  SELECT n.schema_name, n.table_name, n.i, n.commit_ts, n.n_rows,
         |    r.next_batch,
         |    CASE WHEN r.acc_after + n.n_rows >= $AtomCap THEN 0
         |         ELSE r.acc_after + n.n_rows END,
         |    CASE WHEN r.acc_after + n.n_rows >= $AtomCap THEN r.next_batch + 1
         |         ELSE r.next_batch END
         |  FROM rec r JOIN numbered n
         |    ON n.schema_name = r.schema_name AND n.table_name = r.table_name
         |   AND n.i = r.i + 1
         |), perb AS (
         |  SELECT schema_name, table_name, batch_id, count(*) AS nt,
         |    CAST(sum(n_rows) AS BIGINT) AS rb,
         |    CAST(sum(batch_id * (commit_ts % 997)) AS BIGINT) AS ac
         |  FROM rec GROUP BY 1, 2, 3
         |)
         |SELECT schema_name, table_name, count(*) AS atomic_batches,
         |  max(rb) AS max_batch_rows,
         |  CAST(sum(rb) AS BIGINT) AS total_rows,
         |  CAST(sum(nt) AS BIGINT) AS n_txns,
         |  (CAST(sum(rb) AS BIGINT) + ${AtomCap - 1}) // $AtomCap AS split_batches,
         |  CAST(sum(ac) AS BIGINT) AS assign_check
         |FROM perb GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    val txns = CdcStream.derive(spark, dir)
      .groupBy("schema_name", "table_name", "commit_ts")
      .agg(count(lit(1)).as("n_rows"))
    Compaction.atomicBatchIds(txns, AtomCap)
      .groupBy("schema_name", "table_name", "batch_id")
      .agg(count(lit(1)).as("nt"), sum(col("n_rows")).as("rb"),
        sum(col("batch_id") * (col("commit_ts") % 997)).as("ac"))
      .groupBy("schema_name", "table_name")
      .agg(count(lit(1)).as("atomic_batches"),
        max(col("rb")).as("max_batch_rows"),
        sum(col("rb")).as("total_rows"),
        sum(col("nt")).as("n_txns"),
        expr(s"(sum(rb) + ${AtomCap - 1}) DIV $AtomCap").as("split_batches"),
        sum(col("ac")).as("assign_check"))
  }

  // ---- q170: DM binlog event filter -----------------------------------

  /** DDL events for the binlog filter: (schema, table, sql). */
  private val BfDdl = Seq(
    ("db", "t1", "CREATE TABLE db.t1 (id BIGINT, v DOUBLE)"),
    ("db2", "", "CREATE DATABASE db2"),
    ("db", "t1", "DROP TABLE db.t1"),
    ("db2", "", "DROP DATABASE db2"),
    ("db", "t1", "ALTER TABLE db.t1 ADD COLUMN c INT"),
    ("db", "t1", "ALTER TABLE db.t1 ADD INDEX idx_v (v)"),
    ("db", "t1", "ALTER TABLE db.t1 DROP INDEX idx_v"),
    ("db", "t1", "ALTER TABLE db.t1 ADD PRIMARY KEY (id)"),
    ("db", "t2", "RENAME TABLE db.t1 TO db.t2"),
    ("db", "t2", "TRUNCATE TABLE db.t2"),
    // NullEvent (no event type derivable): the event block is SKIPPED and
    // only SQL patterns filter (filter.go:350) — the first matches rule 3's
    // (?i)TRUNCATE pattern → Ignore, the second matches nothing → Do
    ("db", "t9", "ANALYZE TABLE db.truncate_log"),
    ("db", "t9", "OPTIMIZE TABLE db.t9"),
    // an event OUTSIDE the taxonomy is ClassifyEvent's error → Ignore
    // (filter.go:330-333, mapped to 'flush tables' by BfEvMap below)
    ("db", "t1", "FLUSH TABLES"))

  /** SQL-text → reference event type, first match wins (shared by both
    * engines so the gate tests the FILTER, not a parser). */
  private val BfEvMap = Seq(
    ("^CREATE TABLE", "create table"),
    ("^CREATE DATABASE", "create database"),
    ("^DROP TABLE", "drop table"),
    ("^DROP DATABASE", "drop database"),
    ("ADD INDEX", "create index"),
    ("DROP INDEX", "drop index"),
    ("ADD PRIMARY KEY", "add primary key"),
    ("^RENAME", "rename table"),
    ("^TRUNCATE", "truncate table"),
    ("^FLUSH", "flush tables"),
    ("^ALTER TABLE", "alter table"))

  private val BfRules = Seq(
    Filters.BinlogEventRule("db_0", "*", Seq("delete"), Nil, "Ignore"),
    Filters.BinlogEventRule("db_1", "tbl_1", Seq("insert"), Nil, "Do"),
    Filters.BinlogEventRule("db", "*", Nil,
      Seq("^DROP TABLE", "TRUNCATE"), "Ignore"),
    Filters.BinlogEventRule("db", "t1",
      Seq("create index", "drop index"), Nil, "Error"),
    Filters.BinlogEventRule("db2", "*", Seq("none"), Nil, "Ignore"))

  /**
   * q170 — DM's binlog event filter ([[Filters.binlogEventDecision]],
   * reference pkg/binlog-filter/filter.go): per-scope rules with the full
   * event-group taxonomy (`all dml`, `none`, specific DDL kinds), SQL
   * regexes, and Do/Ignore/Error actions, applied over a mixed DML + DDL
   * event stream. The rule set exercises the semantic corners: `Do` as a
   * whitelist (non-insert DML on db_1.tbl_1 ignores), an event-less
   * Ignore rule falling through its event block to the SQL patterns,
   * Error surfacing only on the LISTED kinds (add-primary-key classifies
   * `incompatible ddl` but isn't listed → falls through to Do), and
   * `none` terminating the entry scan without forcing a decision. The
   * oracle's CASE chain is GENERATED from the same rule objects
   * ([[Filters.BinlogSql.decision]]) so engine and oracle cannot drift.
   */
  val binlogEventFilter = GateQuery(
    "q170_binlog_event_filter",
    Some {
      val ddlVals = BfDdl.map { case (s, t, q) =>
        s"('$s', '$t', '${q.replace("'", "''")}')"
      }.mkString(", ")
      val evCase = BfEvMap.foldRight("NULL") { case ((re, ev), rest) =>
        s"(CASE WHEN regexp_matches(sql, '$re') THEN '$ev' ELSE $rest END)"
      }
      val dec = Filters.BinlogSql.decision(
        "schema_name", "table_name", "ev", "sql", BfRules)
      cte +
        s""", dml AS (
           |  SELECT schema_name, table_name,
           |    CASE op WHEN 'I' THEN 'insert' WHEN 'U' THEN 'update'
           |            ELSE 'delete' END AS ev,
           |    '' AS sql
           |  FROM cdc
           |), ddl AS (
           |  SELECT schema_name, table_name, $evCase AS ev, sql
           |  FROM (VALUES $ddlVals) d(schema_name, table_name, sql)
           |), evs AS (
           |  SELECT * FROM dml UNION ALL SELECT * FROM ddl
           |)
           |SELECT schema_name, table_name, ev, $dec AS decision,
           |  count(*) AS cnt
           |FROM evs GROUP BY 1, 2, 3, 4""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val dml = CdcStream.derive(spark, dir).select(
      col("schema_name"), col("table_name"),
      when(col("op") === "I", "insert").when(col("op") === "U", "update")
        .otherwise("delete").as("ev"),
      lit("").as("sql"))
    val evCase = BfEvMap.foldRight(lit(null).cast("string")) {
      case ((re, ev), rest) => when(col("sql").rlike(re), ev).otherwise(rest)
    }
    val ddl = BfDdl.toDF("schema_name", "table_name", "sql")
      .select(col("schema_name"), col("table_name"), evCase.as("ev"), col("sql"))
    dml.unionByName(ddl)
      .withColumn("decision", Filters.binlogEventDecision(
        col("schema_name"), col("table_name"), col("ev"), col("sql"), BfRules))
      .groupBy("schema_name", "table_name", "ev", "decision")
      .agg(count(lit(1)).as("cnt"))
  }

  def all: Seq[GateQuery] = Seq(
    tableFilter, eventFilter, exprFilter, exprFilterImages, startTsFilter,
    bdrFilter,
    checkpointFilter, router, extendColumns, topicRouter,
    dispatchByTable, dispatchByTs, dispatchByIndexValue, dispatchByKeyGate,
    dispatchByNamedIndexGate, caseSensitivity,
    updateSplit, sinkSplitSort, compaction, txnSizes, batching, safeMode,
    causality,
    storageConsumer, storageSchemaDrift, storageLayout, sqlApply,
    forceReplicate, txnAtomicity, binlogEventFilter)
}
